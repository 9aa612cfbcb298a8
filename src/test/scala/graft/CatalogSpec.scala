package graft

import scala.jdk.CollectionConverters._

/** Catalog-wide invariants: every declared operator runs at sf0.001 and
  * produces a sane frame; name/oracle wiring is consistent (the driver's
  * column-name-sorted hash makes aliasing mistakes fatal — catch them
  * here, not in the round gate). */
class CatalogSpec extends SparkSpec {

  test("catalog names are unique and non-empty") {
    val names = QueryDef.catalogs.map(_.name)
    assert(names.distinct.size === names.size)
    assert(names.forall(_.nonEmpty))
  }

  test("SparkEntry maps mirror the catalog") {
    assert(SparkEntry.queries.keySet === QueryDef.catalogs.map(_.name).toSet)
    assert(SparkEntry.oracleSql.keySet ===
      QueryDef.catalogs.filter(_.oracle.isDefined).map(_.name).toSet)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Bench record lines: summary last, both parse") {
    // r9: the bench prints the full record (with samples evidence) and
    // then a compact summary line LAST, so driver-side tail truncation
    // can never again eat the headline numbers (r8 lost total + sf0.1
    // times exactly this way). Pin both shapes.
    val (full, summary) = Bench.recordLines(
      total = 9.5,
      qs = """{"q1_agg":1.5}""",
      qSamples = """{"q1_agg":[1.9,1.5,1.6]}""",
      sfDir = "/x/sf0.1",
      sf1Full = ""","sf1_total":18.0,"sf1_queries":{"q1_agg":13.0},""" +
        """"sf1_ratio_vs_sf01":{"q1_agg":8.67},"sf1_passes":{"q1_agg":[13.2,13.0,13.4]},""" +
        """"sf1_gen_sec":40.0""",
      sf1Summary = ""","sf1_total":18.0,"sf1_queries":{"q1_agg":13.0},""" +
        """"sf1_ratio_vs_sf01":{"q1_agg":8.67}""")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val fullNode = mapper.readTree(full)     // both lines are strict JSON
    val sumNode = mapper.readTree(summary)
    assert(fullNode.get("queries_samples").get("q1_agg").size() === 3,
      "samples evidence lives on the full line")
    assert(sumNode.get("summary").asBoolean(), "summary line is marked")
    assert(!sumNode.has("queries_samples") && !sumNode.has("sf1_passes"),
      "summary stays compact — no samples fields to outgrow the tail")
    for (n <- Seq(fullNode, sumNode)) {
      assert(n.get("metric").asText() === "total")
      assert(n.get("value").asDouble() === 9.5)
      assert(n.get("queries").get("q1_agg").asDouble() === 1.5)
      assert(n.get("sf1_ratio_vs_sf01").get("q1_agg").asDouble() === 8.67)
    }
  }

  test("summary line carries the attribution fields inside the tail window") {
    // the summary (the line the driver's 2000-char tail always keeps)
    // carries the host signals and the window adjudication itself — wall
    // time, spreads, cpus, steal — and stays parseable JSON
    val (full, summary) = Bench.recordLines(
      total = 9.5, qs = """{"q1_agg":1.5}""",
      qSamples = """{"q1_agg":[1.9,1.5,1.6]}""", sfDir = "/x/sf0.1",
      sf1Full = "", sf1Summary = "",
      extraBoth = ""","cpus":4,"steal_frac":0.0731,""" +
        """"sf10_total":30.0,"sf10_queries":{"q1_agg":14.0},""" +
        """"sf10_ratio_vs_sf1":{"q1_agg":1.08},"sf10_gen_sec":60.5""",
      summaryExtra = ""","wall_sec":356.2,"spread_sf01":1.27,"spread_sf1":17.64""")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(summary)
    assert(node.get("summary").asBoolean())
    assert(node.get("wall_sec").asDouble() === 356.2)
    assert(node.get("spread_sf1").asDouble() === 17.64)
    for (n <- Seq(node, mapper.readTree(full)))
      assert(n.get("steal_frac").asDouble() === 0.0731, "steal rides both lines")
    assert(node.get("sf10_ratio_vs_sf1").get("q1_agg").asDouble() === 1.08,
      "the second-decade ratios ride extraBoth onto the summary line too")
    assert(summary.length < 1900,
      s"summary line must survive the driver's ~2000-char tail: ${summary.length}")
  }

  test("maxSpread: worst per-query max/min over valid samples, warm-up skippable") {
    // r13's sf1 j1 passes [44.63, 3.95, 2.53] — 17.64× spread — IS the
    // host-window evidence; the sf0.1 tier's pass 0 is JIT warm-up and
    // must be skippable so the spread measures the host, not codegen
    assert(Bench.maxSpread(Seq(Seq(44.63, 3.95, 2.53), Seq(1.0, 1.1, 1.05)),
      skipFirst = false) === 17.64)
    assert(Bench.maxSpread(Seq(Seq(9.9, 1.0, 1.1)), skipFirst = true) === 1.1)
    // -1 failure markers and single-sample queries are ignored
    assert(Bench.maxSpread(Seq(Seq(-1.0, 2.0, 1.0), Seq(-1.0, -1.0, 3.0)),
      skipFirst = false) === 2.0)
    assert(Bench.maxSpread(Seq(Seq(3.0)), skipFirst = false) === 0.0)
    assert(Bench.maxSpread(Nil, skipFirst = false) === 0.0)
  }

  test("samplesJson emits parseable per-query sample arrays in catalog order") {
    // the bench record's queries_samples/sf1_passes fields are built by
    // this helper; pin that the output is strict JSON (Jackson accepts),
    // preserves the given name order, keeps -1 failure markers, and
    // renders a missing query as an empty array instead of throwing
    val json = Bench.samplesJson(Seq("b_query", "a_query", "missing"),
      Map("a_query" -> Seq(0.5117, -1.0, 0.25), "b_query" -> Seq(1.0, 2.0, 3.0)))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    assert(node.fieldNames().asScala.toSeq === Seq("b_query", "a_query", "missing"),
      "insertion order = the order the caller gave (catalog order in main)")
    assert(node.get("b_query").elements().asScala.map(_.asDouble()).toSeq ===
      Seq(1.0, 2.0, 3.0))
    assert(node.get("a_query").elements().asScala.map(_.asDouble()).toSeq ===
      Seq(0.512, -1.0, 0.25), "3-decimal rounding, -1 markers survive")
    assert(node.get("missing").size() === 0)
  }

  test("fixed interleaved passes: suite order, a failed query stops, min of measured passes") {
    val Seq(a, b) = QueryDef.catalogs.filter(_.headline).take(2)
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    val samples = Bench.interleaved(Seq(a, b), passes = 3, "spec")(_.name) { q =>
      calls += q.name
      if (q == b && calls.size > 2) sys.error("planted failure") else 0.5 * calls.size
    }
    assert(calls.toSeq === Seq(a.name, b.name, a.name, b.name, a.name),
      "pass p of every query before pass p+1; a failed query is not run again")
    assert(samples(a.name) === Seq(0.5, 1.5, 2.5))
    assert(samples(b.name) === Seq(1.0, -1.0), "the real sample stays, the failure is marked")
    // the warm-up never counts, even when it is the fastest sample
    assert(Bench.minMeasured(Seq(0.5, 1.2, 1.1)) === 1.1)
    assert(Bench.minMeasured(samples(b.name)) === -1.0)
    assert(Bench.minMeasured(Seq(0.5)) === -1.0, "no measured pass")
    assert(Bench.minMeasured(Nil) === -1.0)
  }

  test("steal_frac is the steal share of the /proc/stat tick delta") {
    val start = "cpu  100 0 50 800 10 0 5 20 0 0"
    val end = "cpu  200 0 90 1500 20 0 5 60 0 0"
    // deltas 100 0 40 700 10 0 0 40 0 0: steal 40 of 890 ticks
    assert(Bench.stealFrac(start, end) === Some(0.0449))
    assert(Bench.stealFrac(start, start) === Some(0.0), "no ticks elapsed")
    // a kernel without the steal column: the signal is left out, not 0
    assert(Bench.stealFrac("cpu  100 0 50 800 10 0 5", "cpu  200 0 90 1500 20 0 5") === None)
    assert(Bench.stealFrac("cpu0 100 0 50 800 10 0 5 20", end) === None, "a per-core line")
    assert(Bench.stealFrac(start, "") === None)
  }

  test("main code waits with bounds: no Duration.Inf, no Thread.sleep outside the allowlist") {
    // ROADMAP aim 3. The publish loop's one poll is the known exception;
    // it becomes a counted backoff bounded by the grace deadline
    // (ROADMAP open item 5), and this list shrinks with it
    val allowed = Seq("graft/Published.scala" ->
      "Thread.sleep(500L) // a racer's marker, or a transient rename failure to clear")
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val files = java.nio.file.Files.walk(root)
    val hits = try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.map(_.trim)
          .filter(l => l.contains("Duration.Inf") || l.contains("Thread.sleep"))
          .map(root.relativize(f).toString -> _)
      } finally files.close()
    assert(hits.sorted === allowed.sorted)
  }

  test("main code has one SparkListener: Profile's") {
    // ROADMAP aim 2: one metrics collector. Another listener under
    // src/main/scala/graft would be a second, ad-hoc one
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root.resolve("graft")),
      s"no sources at ${root.toAbsolutePath}")
    val files = java.nio.file.Files.walk(root.resolve("graft"))
    val hits = try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .filter(f => java.nio.file.Files.readAllLines(f).asScala
        .exists(l => l.contains("SparkListener") || l.contains("addSparkListener")))
      .map(root.relativize(_).toString) finally files.close()
    assert(hits === Seq("graft/Profile.scala"))
  }

  test("main code elects LSH bucket keepers in one place: VersionedIndex.keepersOf") {
    // ROADMAP aim 2: one LSH election. Batch dedup, index build, probe,
    // the cc query and the admission delta all call keepersOf; a second
    // per-(band, bucket) min is a copy the probe ≡ batch specs rest on
    val election = "groupBy(col(\"band\"), col(\"bucket\"))"
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root.resolve("graft")),
      s"no sources at ${root.toAbsolutePath}")
    val files = java.nio.file.Files.walk(root.resolve("graft"))
    val hits = try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(f => java.nio.file.Files.readAllLines(f).asScala
        .filter(_.contains(election)).map(_ => root.relativize(f).toString))
      finally files.close()
    assert(hits === Seq("graft/operators/VersionedIndex.scala"))
  }

  test("main code stages derived directories through one cache: Staged") {
    // ROADMAP aim 2: one staged-artifact cache. Its marker literal lives
    // only in Staged.scala, it is the only _GRAFT_ marker, and no
    // per-cache marker convention remains.
    // (Persisted generations — index versions, admission state, upsert
    // manifests — commit through graft.Published, not a build-once
    // cache; the next spec guards their markers.)
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root.resolve("graft")),
      s"no sources at ${root.toAbsolutePath}")
    val graftMarker = "(?<![A-Z0-9])_GRAFT_[A-Z0-9_]+".r
    val files = java.nio.file.Files.walk(root.resolve("graft"))
    val (markers, legacy) = try {
      val srcs = files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
        .map(f => root.relativize(f).toString -> java.nio.file.Files.readString(f))
      (srcs.flatMap { case (f, text) => graftMarker.findAllIn(text).map(f -> _) }.distinct.sorted,
        srcs.filter { case (_, text) => text.contains("_STAGED_") || text.contains("_READY_v") }
          .map(_._1))
    } finally files.close()
    assert(markers === Seq("graft/Staged.scala" -> "_GRAFT_READY"))
    assert(legacy.isEmpty, s"a per-cache marker convention remains in ${legacy.mkString(", ")}")
  }

  test("persisted-state marker literals live only in Published.scala") {
    // ROADMAP aim 2: one publish protocol. A string literal naming a
    // marker elsewhere is a second writer or reader of it; comments may
    // name them (LocalCommit.scala's do), so only literals are scanned
    val markers = Seq("_PUBLISHED", "_COMMIT", "_graft_manifest", "_graft_fanout_marks")
    val literal = "\"(?:[^\"\\\\]|\\\\.)*\"".r
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root.resolve("graft")),
      s"no sources at ${root.toAbsolutePath}")
    val files = java.nio.file.Files.walk(root.resolve("graft"))
    val hits = try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val lits = java.nio.file.Files.readAllLines(f).asScala.flatMap(literal.findAllIn(_))
        markers.filter(m => lits.exists(_.contains(m))).map(root.relativize(f).toString -> _)
      } finally files.close()
    assert(hits.sorted === markers.map("graft/Published.scala" -> _).sorted)
  }

  test("SparkEntry registers the graft SQL functions on a session built without the extension") {
    // a caller's own session may lack spark.sql.extensions; the s2
    // codecs call le_encode/le_decode, so without registration at the
    // entry they resolve only when an earlier query happened to register
    val bare = spark.newSession()
    val registry = bare.sessionState.functionRegistry
    for (f <- Seq("dot_long", "dot_float", "float_vec_to_binary",
        "binary_to_float_vec", "pii_redact", "le_decode", "le_encode")) {
      val id = org.apache.spark.sql.catalyst.FunctionIdentifier(f)
      assert(registry.dropFunction(id) && !registry.functionExists(id), f)
    }
    val q = "s2_decode_fast_action"
    operators.RunCaches.clearAll() // no frame analysed by another session
    val got = SparkEntry.queries(q)(bare, sf001).collect().toSeq
    assert(got.nonEmpty, s"$q is empty at $sf001")
    assert(got === QueryDef.catalogs.find(_.name == q).get.run(spark, sf001).collect().toSeq)
  }

  test("main code reads only the pinned SPARK_GRAFT_* variables") {
    // every new variable is one more untested way to run the engine;
    // this list may only shrink
    val allowed = Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF1", "SPARK_GRAFT_SF10",
      "SPARK_GRAFT_SF10_DIR", "SPARK_GRAFT_SF1_DIR", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_STREAM_OUT", "SPARK_GRAFT_TIME_OUT")
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val name = "SPARK_GRAFT_[A-Z0-9_]+".r
    val files = java.nio.file.Files.walk(root)
    val found = try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(f => name.findAllIn(java.nio.file.Files.readString(f)).toSeq)
      .distinct.sorted finally files.close()
    assert(found === allowed.sorted)
  }

  test("main code reads only the pinned spark.graft.* settings") {
    // this list may only shrink. Each key is spelled in full at its read
    // site: a key built by interpolation (`spark.graft.minhash.$key`)
    // reads here as a bare prefix and fails the census
    val allowed = Seq("spark.graft.admissionCompactEvery", "spark.graft.checkpointDir",
      "spark.graft.minhash.indexBase", "spark.graft.minhash.reapGraceMs")
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val key = "spark\\.graft\\.[A-Za-z0-9_.]*".r
    val files = java.nio.file.Files.walk(root)
    val found = try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(f => key.findAllIn(java.nio.file.Files.readString(f)).map(_.stripSuffix(".")))
      .distinct.sorted finally files.close()
    assert(found === allowed.sorted)
  }

  test("a bad spark.graft.* value fails before any work, naming its key") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-badconf").toString
    def ensure() = operators.VersionedIndex.ensureVersioned(spark, sf001, "badconf",
      Seq("part")) { (_, _, _) => fail("built an index under a bad setting") }
    def admit() = operators.IngestIncr.admitMicroBatch(spark, spark.emptyDataFrame,
      0L, s"$tmp/idx", 0L, s"$tmp/state", s"$tmp/out")
    val rows = Seq(
      ("spark.graft.minhash.reapGraceMs", "-1", () => ensure()),
      ("spark.graft.minhash.reapGraceMs", "15m", () => ensure()),
      ("spark.graft.admissionCompactEvery", "0", () => admit()),
      ("spark.graft.admissionCompactEvery", "abc", () => admit()),
      ("spark.graft.admissionCompactEvery", "2.5", () => admit()))
    for ((key, value, run) <- rows) {
      spark.conf.set(key, value)
      val e = try intercept[IllegalArgumentException](run()) finally spark.conf.unset(key)
      assert(e.getMessage.startsWith(s"$key must be a whole number in [") &&
        e.getMessage.endsWith(s"got '$value'"), e.getMessage)
    }
    assert(new java.io.File(tmp).list().isEmpty, "a refused setting wrote state")
    new java.io.File(tmp).delete(): Unit
  }

  test("Engine's core count: SPARK_GRAFT_CPUS when set, else the host's") {
    assert(Engine.cpus(Some("8")) === 8)
    assert(Engine.cpus(None) === Runtime.getRuntime.availableProcessors)
    // refused up front, naming the variable, not later by Spark's master
    // URL parser ("local[0]", "local[-2]") or a bare NumberFormatException
    for (bad <- Seq("0", "-2", "abc", "4.5", "99999999999")) {
      val e = intercept[IllegalArgumentException](Engine.cpus(Some(bad)))
      assert(e.getMessage === s"SPARK_GRAFT_CPUS must be a whole number in [1, 2147483647], got '$bad'")
    }
  }

  test("TimeQueries: `all` is the whole catalog; an unknown name fails before any query runs") {
    assert(QueryDef.resolve("all") === QueryDef.catalogs)
    assert(QueryDef.resolve("j1_fk_join, q1_agg").map(_.name) === Seq("j1_fk_join", "q1_agg"))
    assert(intercept[RuntimeException](QueryDef.resolve("q1_agg,no_such_query"))
      .getMessage === "unknown catalog query: no_such_query")
    val e = intercept[RuntimeException](
      TimeQueries.main(Array("passes=1", "q1_agg,no_such_query", sf001)))
    assert(e.getMessage.contains("unknown catalog query: no_such_query"))
    assert(!spark.sparkContext.isStopped, "main failed before it took or stopped a session")
  }

  test("timing mains share one option reader: jdbc: stays positional; a bad option fails with the usage line") {
    val jdbc = "jdbc:derby:memory:graft;user=graft"
    val a = Bench.mainArgs(Seq("family=phash", "spans=4,8", jdbc, "d2"),
      Set("family", "spans"), "usage: X")
    assert(a.opts === Map("family" -> "phash", "spans" -> "4,8"))
    assert(a.positional === Seq(jdbc, "d2"))
    assert(a.list("spans") === Some(Seq("4", "8")))
    assert(a.int("passes", 3) === 3)
    def failure(main: Array[String] => Unit, args: String*): String =
      intercept[IllegalArgumentException](main(args.toArray)).getMessage
    // each fails before it takes a session
    val bad = Seq(
      failure(TimeQueries.main, "pases=1", "q1_agg", sf001) -> "unknown option 'pases'",
      failure(TimeQueries.main, "passes=x", "q1_agg", sf001) -> "passes= wants an integer, got 'x'",
      failure(TimeIncr.main, "famly=phash", sf001) -> "unknown option 'famly'",
      failure(TimeIncr.main, "spans=1,b", sf001) -> "spans= wants integers, got 'b'",
      failure(BenchStreams.main, "chunks=abc", sf001) -> "chunks= wants an integer, got 'abc'",
      failure(BenchStreams.main, "ops=st1_tally,st12_rapid_reversal", sf001) ->
        "ops= names no op: 'st1_tally'")
    for ((msg, want) <- bad) {
      assert(msg.contains(want), msg)
      assert(msg.contains("; usage: "), msg)
    }
    assert(!spark.sparkContext.isStopped)
  }

  test("TimeQueries and TimeIncr print a pair with no valid sample as FAILED, with no ratio") {
    assert(TimeQueries.minValid(Seq(1.2, 1.5, -1.0)) === 1.2, "pass 0 counts; a −1 does not")
    assert(TimeQueries.minValid(Seq(-1.0)) === -1.0)
    assert(TimeQueries.timeLine("q", Seq("a" -> 0.5, "b" -> 2.0)) === "TIME q a=0.500 b=2.000 ratio=4.00")
    assert(TimeQueries.timeLine("q", Seq("a" -> 0.5, "b" -> -1.0)) === "TIME q a=0.500 b=FAILED")
    assert(TimeQueries.timeLine("q", Seq("a" -> -1.0, "b" -> 2.0)) === "TIME q a=FAILED b=2.000")
    val tiers = Seq(TimeIncr.Tier("d1", 80L, 20L, 80L), TimeIncr.Tier("d2", 980L, 20L, 980L))
    val good = Map("build d1@80" -> Seq(2.0, 1.0), "probe d1@80" -> Seq(0.5, 0.4),
      "build d2@980" -> Seq(10.0, 9.0), "probe d2@980" -> Seq(0.6, 0.8))
    assert(TimeIncr.report("minhash", 4, tiers, good, ratio = true) === Seq(
      "INCR family=minhash d1 corpus=80 incrRows=20 split=80 shards=4 build=1.000 probe=0.400",
      "INCR family=minhash d2 corpus=980 incrRows=20 split=980 shards=4 build=9.000 probe=0.600",
      "RATIO family=minhash corpus=12.25 build=9.00 probe=1.50"))
    // a failed build leaves its probe nothing to read: both cells FAILED
    val failed = good ++ Map("build d2@980" -> Seq(-1.0), "probe d2@980" -> Seq(-1.0))
    assert(TimeIncr.report("minhash", 4, tiers, failed, ratio = true) === Seq(
      "INCR family=minhash d1 corpus=80 incrRows=20 split=80 shards=4 build=1.000 probe=0.400",
      "INCR family=minhash d2 corpus=980 incrRows=20 split=980 shards=4 build=FAILED probe=FAILED"))
    // a probe that failed on its own still drops the ratio
    assert(TimeIncr.report("minhash", 4, tiers, good + ("probe d2@980" -> Seq(-1.0)),
      ratio = true).size === 2)
  }

  test("TimeIncr refuses a ratio over tiers whose corpus does not grow, naming both") {
    val small = TimeIncr.Tier("/t/sf0.001", 400L, 100L, 400L)
    TimeIncr.requireGrowing(Seq(small, TimeIncr.Tier("/t/sf1", 4000L, 100L, 4000L)))
    val e = intercept[IllegalArgumentException](
      TimeIncr.requireGrowing(Seq(small, TimeIncr.Tier("/t/sf0.01", 400L, 100L, 400L))))
    assert(e.getMessage.contains("/t/sf0.01 (corpus=400)"))
    assert(e.getMessage.contains("/t/sf0.001 (corpus=400)"))
  }

  test("Verify subset runs merge oracle entries, never dropping a prior failure") {
    // advice r15: a query that FAILED in a prior full run has an oracle
    // entry but no result dir; a subset refresh into the reused dir must
    // keep that entry (so it keeps failing the compare) rather than
    // filter it out and silently downgrade the failure to unchecked.
    val out = tempDir("graft-verify-keep").toFile
    // prior full run recorded two entries; 'prior_failed' never wrote a dir
    java.nio.file.Files.writeString(
      new java.io.File(out, "oracle_sql.json").toPath,
      """{"prior_failed": "SELECT 1", "prior_green": "SELECT 2"}""")
    new java.io.File(out, "prior_green").mkdirs()   // green sibling's dir
    new java.io.File(out, "dir_only").mkdirs()      // dir with no prior entry
    val keep = Verify.oracleKeep(Set("selected"), out.getPath)
    assert(keep("selected"), "the refreshed query itself")
    assert(keep("prior_failed"), "entry-no-dir sibling keeps failing the compare")
    assert(keep("prior_green"), "green sibling stays checked")
    assert(keep("dir_only"), "result dir without a prior entry is (re)added")
    assert(!keep("never_seen"), "unrelated catalog keys stay out of a subset dump")
    // full run: everything, regardless of dir state
    assert(Verify.oracleKeep(Set.empty, out.getPath)("anything"))
    // unreadable prior file degrades to selected ∪ dirs, never throws
    java.nio.file.Files.writeString(
      new java.io.File(out, "oracle_sql.json").toPath, "{not json")
    val degraded = Verify.oracleKeep(Set("selected"), out.getPath)
    assert(degraded("selected") && degraded("prior_green") && !degraded("prior_failed"))
  }

  test("a second cold pass of the perfbench catalog sample compiles no class") {
    // the generated-class cache is JVM-global and sized by the first
    // session that generates code; static confs are fixed by the first
    // session of the context, so this reads what the cache was built with
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "4096")
    // the sample of perfbench's catalog_sf01 workload
    val sample = Seq("w5_before_cursor", "p4_range_pred", "a1_vote_tally",
      "j5_identity_link", "dd_shingle_jaccard", "dd_embedding", "s2_decode_fixed",
      "f_slash_refund", "mm_resize", "s3_rest_topn", "crypto_merkle_verify",
      "st7_ttl_retention", "pipe_pack_tokens")
    val queries = QueryDef.resolve(sample.mkString(","))
    // start from an empty cache, whatever earlier suites compiled
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val cache = gen.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    val c = cache.invoke(gen)
    c.getClass.getMethod("invalidateAll").invoke(c)
    def pass(): Map[String, Long] = queries.map { q =>
      operators.RunCaches.clearAll()
      q.name -> Profile.during(spark)(
        q.run(spark, sf01).write.format("noop").mode("overwrite").save())._2.compiles
    }.toMap
    val first = pass()
    assert(first.values.sum > 100, s"the sample's working set outgrows the default cache: $first")
    // dd_embedding's plans come in a bounded set of AQE variants: its
    // whole-stage codegen ids follow the order in which concurrently
    // materializing stages finish, and its join strategy is picked at
    // run time, so repeat runs compile new variants until the set is
    // cached (60 classes by the 10th of 14 runs)
    val second = pass() - "dd_embedding"
    assert(second.values.forall(_ == 0L), s"recompiled: ${second.filter(_._2 > 0)}")
  }

  test("every query runs at sf0.001 with rows and unique column names") {
    val failures = QueryDef.catalogs.flatMap { q =>
      try {
        val df = q.run(spark, sf001)
        val cols = df.columns.toSeq
        if (cols.distinct.size != cols.size) Some(s"${q.name}: dup columns $cols")
        else if (df.limit(1).count() == 0) Some(s"${q.name}: empty result")
        else None
      } catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
