package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.operators.Overlap

/** The run harness around the queries: the one session policy, the
  * query/oracle contract, the bench's retest-reference resolution,
  * `Overlap.runAll`'s failure handling, the censuses of main-code
  * reachability, settable operator values, knobs and environment
  * variables, session artifacts, schema-less parquet reads and scratch
  * directories, and the specs' temp-dir census. */
class HarnessSpec extends AnyFunSuite with TimeLimits {
  implicit val signaler: Signaler = ThreadSignaler

  /** The main-code sources the censuses below read. */
  private lazy val files = {
    import scala.jdk.CollectionConverters._
    Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }
  private val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
  private val defName = """\bdef\s+(\w+)""".r
  private val defining = """\b(?:def|val)\s+$""".r
  /** The main-code sources with their comments stripped. */
  private lazy val stripped =
    files.map(f => f -> comments.replaceAllIn(Files.readString(f), ""))

  /** The index just past the string literal or bracketed span that starts
    * at `i` (string literals inside a span are skipped whole), or `i + 1`
    * for any other character. */
  private def skip(src: String, i: Int): Int =
    if (src.startsWith("\"\"\"", i)) {
      val end = src.indexOf("\"\"\"", i + 3)
      if (end < 0) src.length else end + 3
    } else if (src(i) == '"') {
      var j = i + 1
      while (j < src.length && src(j) != '"') j += (if (src(j) == '\\') 2 else 1)
      j + 1
    } else if ("([{".contains(src(i))) {
      var j = i + 1
      while (j < src.length && !")]}".contains(src(j))) j = skip(src, j)
      j + 1
    } else i + 1

  /** The top-level comma-separated items of `src(from until to)`, each as
    * (start, end) offsets into `src`. */
  private def items(src: String, from: Int, to: Int): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    var start = from
    var i = from
    while (i < to) {
      if (src(i) == ',') { out += (start -> i); start = i + 1 }
      i = if (src(i) == ',') i + 1 else skip(src, i)
    }
    if (src.substring(start, to).trim.nonEmpty) out += (start -> to)
    out.result()
  }

  /** A parameter: its name and, when it has one, its default's text and
    * offsets. */
  private final case class Param(name: String, default: Option[String],
      span: (Int, Int))

  /** The first parameter list of each `def` in `src`: (def offset, name,
    * parameters). */
  private def paramLists(src: String): Seq[(Int, String, Seq[Param])] =
    """\bdef\s+(\w+)\s*(\[[^\]]*\])?\s*\(""".r.findAllMatchIn(src).map { m =>
      val open = m.end - 1
      val params = items(src, open + 1, skip(src, open) - 1).flatMap {
        case (a, b) =>
          """^\s*(?:implicit\s+)?(\w+)\s*:""".r
            .findFirstMatchIn(src.substring(a, b)).map { n =>
              // the default follows the first top-level `=` that is not `=>`
              var i = a + n.end
              while (i < b && !(src(i) == '=' && src(i + 1) != '>')) i = skip(src, i)
              if (i < b) Param(n.group(1), Some(src.substring(i + 1, b).trim), (i + 1, b))
              else Param(n.group(1), None, (b, b))
            }
      }
      (m.start, m.group(1), params)
    }.toSeq

  /** Each use of `name` in main code that is not its definition and not a
    * parameter's default value, named by the file and the method it sits
    * in: a method only a default names is never called unless the default
    * is taken, which the settable-value census below rules out. */
  private def uses(name: String): Seq[String] = stripped.flatMap { case (f, src) =>
    val defaults = paramLists(src).flatMap(_._3.map(_.span))
    s"\\b$name\\b".r.findAllMatchIn(src).map(_.start)
      .filterNot(i =>
        defining.findFirstIn(src.substring(math.max(0, i - 16), i)).isDefined)
      .filterNot(i => defaults.exists { case (a, b) => a <= i && i < b })
      .map { i =>
        val in = defName.findAllMatchIn(src.substring(0, i)).toSeq
          .lastOption.fold("<top>")(_.group(1))
        s"${f.getFileName}: $in"
      }
  }

  test("the shared test session runs on Graft.builder's policy") {
    val s = SparkTestBase.session
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("withExtensions resolves haversine_m, then restores the shared session") {
    val shared = SparkTestBase.session
    val d = SparkTestBase.withExtensions { s =>
      assert(s ne shared)
      assert(s.sparkContext eq shared.sparkContext)
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      s.sql("SELECT haversine_m(0.0, 0.0, 0.0, 1.0) AS d").head().getDouble(0)
    }
    assert(math.abs(d - 111194.9) < 1.0) // one equatorial degree
    assert(SparkSession.getActiveSession.contains(shared))
    assert(SparkSession.getDefaultSession.contains(shared))
  }

  test("every contract query has an oracle and every oracle a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, "queries without an oracle")
    assert((o -- q).isEmpty, "oracles without a query")
  }

  test("the contract is 261 records with unique names") {
    val names = SparkEntry.contracts.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, "a query name is defined twice")
    assert(names.size == 261)
  }

  test("bench reference: the newest round artifact is picked by round number") {
    val dir = SparkTestBase.tempDir("bench-ref").toFile
    def touch(name: String, mtime: Long): java.io.File = {
      val f = new java.io.File(dir, name)
      Files.writeString(f.toPath, "{}")
      assert(f.setLastModified(mtime))
      f
    }
    val t0 = System.currentTimeMillis() - 60000
    touch("BENCH_r22.json", t0 + 1000)
    touch("BENCH_r9.json", t0 + 2000)
    touch("BENCH_r21_c8.json", t0 + 3000) // not a round artifact
    assert(Bench.roundOf(new java.io.File("BENCH_r22.json")) == 22)
    // no snapshot: the fallback reference is r22, not the name-sorted r9
    val (ref, _) = Bench.refIn(dir)
    assert(ref.map(_.getName).contains("BENCH_r22.json"))
    // a snapshot older than both: the staleness warning names r22
    val snap = touch("bench_ref.json", t0)
    val (snapRef, newer) = Bench.refIn(dir)
    assert(snapRef.contains(snap))
    assert(newer.map(_.getName).contains("BENCH_r22.json"))
    // a snapshot refreshed after them: no warning
    assert(snap.setLastModified(t0 + 5000))
    assert(Bench.refIn(dir)._2.isEmpty)
  }

  test("Overlap.runAll returns results in submission order") {
    val firstMayFinish = new CountDownLatch(1)
    val out = Overlap.runAll(Seq(
      () => { firstMayFinish.await(10, TimeUnit.SECONDS); "a" },
      () => { firstMayFinish.countDown(); "b" }))
    assert(out == Seq("a", "b"))
  }

  test("Overlap.runAll rethrows the first failure without waiting on earlier jobs") {
    val never = new CountDownLatch(1)
    val interrupted = new CountDownLatch(1)
    val boom = new IllegalStateException("job 1 failed")
    val thrown = failAfter(10.seconds) {
      intercept[IllegalStateException] {
        Overlap.runAll(Seq(
          () => try never.await() catch {
            case e: InterruptedException => interrupted.countDown(); throw e
          },
          () => throw boom))
      }
    }
    assert(thrown eq boom)
    // the still-running sibling was cancelled, not left behind
    assert(interrupted.await(10, TimeUnit.SECONDS))
  }

  /** Each member `def` of `src`, as (name, the modifiers before it on its
    * line): a def that sits directly in an object, class or trait body, not
    * a local def inside a method. A brace opens such a body when the text
    * since the previous brace or `;` names a template, and after that name
    * has no `new` (an anonymous class) and no `=` outside parentheses (a
    * method or value body). */
  private def memberDefs(src: String): Seq[(String, String)] = {
    val template = """\b(?:object|class|trait)\b""".r
    val nested = """\([^()]*\)|\[[^\[\]]*\]""".r
    def opensTemplate(head: String): Boolean =
      template.findAllMatchIn(head).toSeq.lastOption.exists { m =>
        var after = head.substring(m.end)
        var before = ""
        while (after != before) { before = after; after = nested.replaceAllIn(after, "") }
        !"""\bnew\b|=(?!>)""".r.findFirstIn(after).isDefined
      }
    val defAt = defName.findAllMatchIn(src).map(m => m.start -> m.group(1)).toMap
    val inTemplate = scala.collection.mutable.Stack.empty[Boolean]
    var stmt = 0
    src.indices.flatMap { i =>
      val found = defAt.get(i).filter(_ => inTemplate.headOption.forall(identity))
        .map(_ -> src.substring(src.lastIndexOf('\n', i) + 1, i))
      src(i) match {
        case '{' => inTemplate.push(opensTemplate(src.substring(stmt, i))); stmt = i + 1
        case '}' => if (inTemplate.nonEmpty) inTemplate.pop(); stmt = i + 1
        case ';' => stmt = i + 1
        case _ =>
      }
      found
    }
  }

  /** Every `main(args)` is reached from the JVM; every other public member
    * def must be reached from main code or be listed here with its reason.
    * The list is the reference functions COVERAGE.md maps that no contract
    * query calls: each reproduces one reference entry point on its own. */
  private val referenceMapped = Map(
    "MarketPipelines.scala: yahoo" -> "HTGPIYAHOO price load",
    "MarketPipelines.scala: agricensus" -> "HTGPIAGRICENSUS feed (COVERAGE S1)",
    "MarketPipelines.scala: snp500" -> "HTGPISNP500 chart JSON (COVERAGE S7)",
    "MarketPipelines.scala: cftc" -> "HTGPICFT futures report (COVERAGE S5)",
    "InflationPipeline.scala: incremental" ->
      "HTGPIINFLATUS watermark + stamp step (COVERAGE SO2)",
    "SiteScoringPipeline.scala: preparePois" -> "PGSITE POI table prep",
    "SiteScoringPipeline.scala: featureVector" ->
      "PGSITE pivoted feature vector (COVERAGE P6)",
    "SiteScoringPipeline.scala: globalCounts" -> "PGSITE global POI counts",
    "SiteScoringPipeline.scala: closePoints" ->
      "PGSITE/HTIPNEXSITE top-3 close points",
    "SiteScoringPipeline.scala: closePointsChain" ->
      "HTIPNEXSITE close_points chain mapping",
    "SiteScoringPipeline.scala: assembleResponse" ->
      "PGSITE JSON response (COVERAGE S14)",
    "JdbcIngest.scala: readWatermarks" -> "JDBC watermark read (COVERAGE S9)",
    "JdbcIngest.scala: readTable" -> "JDBC table scan (COVERAGE S9)",
    "JdbcIngest.scala: readPartitioned" -> "JDBC parallel range scan (COVERAGE S9)",
    "Multimodal.scala: readBinaryFiles" -> "blob get (COVERAGE S10)",
    "XlsReader.scala: sheetNames" -> "xls workbook sheet list (COVERAGE S6)",
    "XlsxReader.scala: sheetNames" -> "xlsx workbook sheet list (COVERAGE S6)")

  test("reachability census: every public main-code method is reached from " +
      "main code or maps a reference function") {
    assert(files.size > 10, "src/main/scala not found from the working dir")
    val unreached = stripped.flatMap { case (f, src) =>
      memberDefs(src).collect {
        case (name, mods) if name != "main" &&
            !"""\boverride\b|\bprotected\b|\bprivate\b(?!\[)""".r
              .findFirstIn(mods).isDefined =>
          s"${f.getFileName}: $name"
      }.filter { site =>
        val name = site.substring(site.indexOf(": ") + 2)
        uses(name).forall(_.endsWith(s": $name"))
      }
    }.distinct
    assert(referenceMapped.keySet.forall(unreached.contains),
      "a listed reference function gained a main-code caller or is gone: " +
        (referenceMapped.keySet -- unreached))
    assert(unreached.filterNot(referenceMapped.contains).isEmpty,
      "a public method only specs reach; delete it or move it to test scope")
  }

  /** The one reason a defaulted operator parameter may keep a default no
    * main-code call varies: a cap or size threshold the contract runs at
    * this value, which the named spec lowers so that it binds on
    * spec-sized data. */
  private val specSized = Map(
    "Dedup.connectedComponents.broadcastEdgeLimit" -> "DedupSimilaritySpec",
    "Dedup.prefixJaccardPairs.maxDocsPerTok" -> "PropertySpec",
    "Dedup.containmentPairs.maxDocsPerTok" -> "DedupSimilaritySpec",
    "Dedup.containmentPairsOneSided.maxDocsPerTok" -> "DedupSimilaritySpec",
    "Maintenance.compact.targetBytes" -> "ScaleSpec")

  test("settable-value census: every defaulted operator parameter is varied " +
      "by main code or sized for specs") {
    assert(files.size > 10, "src/main/scala not found from the working dir")
    val layer = stripped.filter { case (f, _) =>
      Seq("operators", "streaming", "serving").contains(f.getParent.getFileName.toString)
    }
    // (object.def.param, taken, varied): `taken` call sites leave it out,
    // `varied` ones pass a value other than the default
    val census = layer.flatMap { case (f, src) =>
      val obj = f.getFileName.toString.stripSuffix(".scala")
      assert(src.contains(s"object $obj"), s"$f does not hold object $obj")
      val members = memberDefs(src).collect {
        case (name, mods) if !"""\boverride\b|\bprotected\b|\bprivate\b(?!\[)""".r
            .findFirstIn(mods).isDefined => name
      }.toSet
      paramLists(src).filter(d => members.contains(d._2)).flatMap {
        case (_, name, params) =>
          // call sites: `Obj.name(` anywhere, a bare `name(` in its own file
          val calls = stripped.flatMap { case (g, other) =>
            val pat = if (g == f) s"""(?<![\\w.])$name\\s*\\(|\\b$obj\\s*\\.\\s*$name\\s*\\("""
              else s"""\\b$obj\\s*\\.\\s*$name\\s*\\("""
            pat.r.findAllMatchIn(other)
              .filterNot(m => defining.findFirstIn(
                other.substring(math.max(0, m.start - 16), m.start)).isDefined)
              .map { m =>
                items(other, m.end, skip(other, m.end - 1) - 1)
                  .map { case (a, b) => other.substring(a, b).trim }
              }
          }
          params.zipWithIndex.collect { case (Param(p, Some(dv), _), k) =>
            val passed = calls.map { args =>
              val (named, pos) = args.partition(_.matches("""(?s)\w+\s*=[^=>].*"""))
              named.find(_.takeWhile(c => c != ' ' && c != '=') == p)
                .map(_.dropWhile(_ != '=').drop(1).trim)
                .orElse(pos.lift(k))
            }
            val taken = passed.count(_.isEmpty)
            val varied = passed.flatten.count(_.replaceAll("\\s", "") !=
              dv.replaceAll("\\s", ""))
            (s"$obj.$name.$p", taken, varied)
          }
      }
    }
    assert(census.size > 5, "no defaulted operator parameter found")
    val unvaried = census.collect {
      case (site, taken, varied) if !(taken > 0 && varied > 0) => site
    }
    val unlisted = unvaried.filterNot(specSized.contains)
    assert(unlisted.isEmpty, s"${unlisted.size} of ${census.size} defaulted " +
      "parameters have a default main code never varies; make each a " +
      s"constant (or drop a default no call takes): $unlisted")
    // a listed cap runs at its default in every main-code call, and its
    // spec does set it
    census.filter(c => specSized.contains(c._1)).foreach {
      case (site, taken, varied) =>
        assert(taken > 0 && varied == 0, s"$site is varied by main code")
        val param = site.split('.').last
        val spec = Files.readString(
          java.nio.file.Paths.get(s"src/test/scala/graft/${specSized(site)}.scala"))
        assert(s"\\b$param\\s*=".r.findFirstIn(spec).isDefined,
          s"${specSized(site)} does not set $site")
    }
    assert(specSized.keySet.forall(unvaried.contains),
      "a listed cap is gone: " + (specSized.keySet -- unvaried))
  }

  test("env census: main code reads five environment variables, each for " +
      "one reason") {
    assert(files.size > 10, "src/main/scala not found from the working dir")
    val read = """(?:sys\.env(?:\.\w+)?|System\.getenv)\(\s*"(\w+)"""".r
    val reads = stripped.flatMap { case (f, src) =>
      // a dynamic read (a computed name, the whole map) names no variable
      assert("""sys\.env\b|getenv""".r.findAllIn(src).size ==
        read.findAllIn(src).size, s"${f.getFileName} reads the environment by a computed name")
      read.findAllMatchIn(src).map(m => m.group(1) -> f.getFileName.toString)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val reasons = Map(
      "SPARK_GRAFT_SF_DIR" -> ("the corpus Bench times", Set("Bench.scala")),
      "SPARK_GRAFT_CPUS" -> ("the local[cores] width of Bench and Verify",
        Set("Bench.scala", "Verify.scala")),
      "SPARK_GRAFT_NO_WARM" -> ("Bench without its warm-up pass", Set("Bench.scala")),
      "SPARK_GRAFT_BENCH_SEED" -> ("Bench's query-order shuffle seed",
        Set("Bench.scala")),
      "SPARK_GRAFT_BENCH_REF" -> ("the reference board Bench compares to",
        Set("Bench.scala")))
    assert(reads == reasons.map { case (k, (_, in)) => k -> in },
      "an environment variable was added, dropped or moved")
  }

  test("temp-dir census: specs take temp directories from one helper") {
    import scala.jdk.CollectionConverters._
    val specs = Files.walk(java.nio.file.Paths.get("src/test/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val sites = specs.flatMap { f =>
      val src = comments.replaceAllIn(Files.readString(f), "")
      """\bcreateTemp(?:Directory|File)\b""".r.findAllMatchIn(src)
        .filterNot(m => src.substring(math.max(0, m.start - 1), m.start) == "\"")
        .map(_ => f.getFileName.toString)
    }
    // SparkTestBase.tempDir: one per-run parent, removed at JVM exit
    assert(sites.distinct == Seq("SparkTestBase.scala"),
      "a spec makes its own temp dir")
  }

  test("knob census: main code reads no graft.* system property and no " +
      "spark.graft.* key") {
    assert(files.size > 10, "src/main/scala not found from the working dir")
    val sysProp = ("""(?:sys\.props|getProperty|getBoolean|getInteger|getLong)""" +
      """[\w.]*\(\s*"(graft\.[\w.]+)"""").r
    val confKey = """spark\.graft\.[\w.]*\w""".r
    val knobs = files.flatMap { f =>
      val src = Files.readString(f)
      (sysProp.findAllMatchIn(src).map(_.group(1)) ++ confKey.findAllIn(src))
        .map(k => s"${f.getFileName}: $k")
    }.distinct
    assert(knobs.isEmpty, "an experiment came back as a knob")
  }

  test("artifact census: main code adds no session artifact, so streams " +
      "can run without artifact isolation") {
    assert(files.size > 10, "src/main/scala not found from the working dir")
    // StreamingOps.withStreamConf turns spark.sql.artifact.isolation.enabled
    // off for its streams' sessions; a jar, file, archive or class added to
    // a session would then reach every stream's tasks
    val add = """\.\s*add(?:Artifacts?|Jar|File|Archive)\s*\(""".r
    val calls = files.flatMap { f =>
      val src = comments.replaceAllIn(Files.readString(f), "")
      add.findAllIn(src).map(c => s"${f.getFileName}: $c")
    }
    assert(calls.isEmpty, "main code adds a session artifact")
  }

  test("schema census: main code reads parquet without a schema only where " +
      "Spark's inference is the point") {
    assert(files.size > 10, "src/main/scala not found from the working dir")
    // a batch parquet read with no .schema(...) runs a one-task job to
    // infer one; table and stream-source reads take Tables.schemaOf instead
    val schemaLess = """\bread(?:\s*\.\s*option\([^()]*\))*\s*\.\s*parquet\(""".r
    val reads = files.flatMap { f =>
      val src = comments.replaceAllIn(Files.readString(f), "")
      // each read is named by the line its `read` starts on
      schemaLess.findAllMatchIn(src).map { m =>
        val end = src.indexOf('\n', m.start)
        src.substring(src.lastIndexOf('\n', m.start) + 1,
          if (end < 0) src.length else end).trim
      }.map(l => s"${f.getFileName}: $l")
    }
    // partitioned and mergeSchema layouts, and directories the engine
    // wrote itself (q222's also carries the file sink's metadata log)
    val allowed = Set(
      "IngestQueries.scala: s.read.parquet(dir)",
      "MaintenanceQueries.scala: s.read.parquet(tmp)",
      "MaintenanceQueries.scala: s.read.option(\"mergeSchema\", \"true\")" +
        ".parquet(s\"$dir/b=1\", s\"$dir/b=2\")",
      "MaintenanceQueries.scala: s.read.parquet(dir)",
      "MaintenanceQueries.scala: fp(s.read.parquet(s\"$tmp/p\"), \"parquet\")",
      "StreamingQueries.scala: s.read.parquet(outDir.toString)",
      "Maintenance.scala: spark.read.parquet(dir).repartition(nOut)",
      "Verify.scala: val df = spark.read.parquet(s\"$outDir/$name\")")
    assert(allowed.forall(reads.contains), "an allowed site is gone or moved")
    assert(reads.filterNot(allowed).isEmpty,
      "a parquet read infers its schema with a job; use Tables.schemaOf")
  }

  test("scratch census: scratch directories, memory sinks and recursive " +
      "deletes each have one home") {
    assert(files.size > 10, "src/main/scala not found from the working dir")
    val code = files.map(f =>
      f.getFileName.toString -> comments.replaceAllIn(Files.readString(f), ""))
    def sites(pattern: String): Seq[String] = code.flatMap { case (n, src) =>
      pattern.r.findAllIn(src).map(_ => n) }
    // contract scratch comes from Shared.scratch, whose parent the exit
    // hook removes; the runners' own dirs are deleted when their run ends
    assert(sites("""java\.io\.tmpdir""") == Seq("Shared.scala"))
    assert(uses("createTempDirectory") == Seq(
      "StreamingOps.scala: runAvailableNowProgress",
      "StreamingOps.scala: runAvailableNowDateSplitProgress",
      "StreamingOps.scala: writeSingleParquet"))
    assert(sites("""format\("memory"\)""") == Seq("StreamingOps.scala"),
      "a stream builds its own memory sink")
    assert(sites("""Files\.walk|deleteIfExists|\.delete\(\)""").distinct ==
      Seq("NioLocalFileSystem.scala"),
      "a recursive delete is written out by hand")
  }

  test("spread census: the text operators' spread and pin rules live in " +
      "Spread") {
    assert(files.size > 10, "src/main/scala not found from the working dir")
    val code = files.map(f =>
      f.getFileName.toString -> comments.replaceAllIn(Files.readString(f), ""))
    // a `.rdd` width read builds a second QueryExecution while the plan is
    // still being built; Spread reads the width from the physical plan
    assert(code.filter(_._2.contains(".rdd.getNumPartitions")).isEmpty,
      "a spread site sizes its fan-out with .rdd")
    assert(code.flatMap { case (n, src) =>
      "512L << 20".r.findAllIn(src).map(_ => n) } == Seq("Spread.scala"),
      "the pin bound is copied outside Spread")
    assert(uses("inBroadcastDangerZone") == Seq("Dedup.scala: shingleFront"))
    assert(uses("maybeBroadcastArrs") == Seq("Dedup.scala: verifyArrs"))
    // scaladoc attaches a doc block only to the declaration right below it
    val stacked = """\*/\s*/\*\*""".r
    assert(files.filter(f => stacked.findFirstIn(Files.readString(f)).isDefined)
      .map(_.getFileName.toString).isEmpty, "a doc block documents nothing")
  }
}
