package graft

import org.apache.spark.sql.functions._

/** Native Catalyst expression kernels: correctness on both execution
  * paths (generated and interpreted), null contracts, and SQL-surface
  * availability via GraftExtensions. */
class ExpressionsSpec extends SparkSpec {

  import spark.implicits._

  private val frame = Seq(
    (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),            // 32
    (Seq(-2L, 7L), Seq(3L, 1L)),                    // 1
    (Seq.empty[Long], Seq.empty[Long])              // 0
  ).toDF("a", "b")

  test("dot_long: exact integer inner product via SQL and call_function") {
    val got = frame.select(call_function("dot_long", $"a", $"b")).as[Long].collect().toSeq
    assert(got === Seq(32L, 1L, 0L))
    frame.createOrReplaceTempView("dot_t")
    assert(spark.sql("SELECT dot_long(a, b) FROM dot_t").as[Long].collect().toSeq
      === Seq(32L, 1L, 0L))
  }

  test("dot_float: double accumulation matches the left-to-right reference") {
    val df = Seq((Seq(1.5f, 2.5f), Seq(2.0f, 4.0f))).toDF("a", "b")
    val got = df.select(call_function("dot_float", $"a", $"b")).as[Double].collect().head
    assert(got === (1.5f.toDouble * 2.0f.toDouble + 2.5f.toDouble * 4.0f.toDouble))
  }

  test("null contracts: null input, ragged pair, and null element all yield null") {
    // Option-typed ELEMENTS so the array schema is containsNull=true and
    // the third row really carries a null element — the old fixture's
    // title claimed this case but held no such row (r13 test sweep)
    val df = Seq(
      (Some(Seq(Some(1L), Some(2L))), None: Option[Seq[Option[Long]]]), // null input
      (Some(Seq(Some(1L), Some(2L))), Some(Seq(Some(1L), Some(2L), Some(3L)))), // ragged
      (Some(Seq(Some(1L), None)), Some(Seq(Some(1L), Some(2L)))),      // null ELEMENT
      (Some(Seq(Some(1L), Some(2L))), Some(Seq(Some(1L), Some(2L))))   // fine
    ).toDF("a", "b")
    val got = df.select(call_function("dot_long", $"a", $"b").as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq === Seq(None, None, None, Some(5L)))
  }

  /** Snapshot-and-restore interpreted-mode toggle — ONE definition for
    * every dual-path test (the copy-pasted conf blocks restored assumed
    * defaults and could silently de-sync; r13 test sweep). */
  private def withInterpreted[A](f: => A): A = {
    val ws = spark.conf.get("spark.sql.codegen.wholeStage")
    val fm = spark.conf.get("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try f
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", ws)
      spark.conf.set("spark.sql.codegen.factoryMode", fm)
    }
  }

  test("dot_long: overflowing accumulation folds to null, never wraps (both codegen paths)") {
    // dot_long is a PUBLIC registered function — the catalog's quantize
    // envelope does not bound what user SQL feeds it, and a wrapped
    // Long is a plausible wrong score (r13 third sweep)
    val big = 4000000000L // big*big overflows; 2*big*big wraps positive
    val df = Seq(
      (Seq(big, big), Seq(big, big)),     // multiply overflow
      (Seq(Long.MaxValue, Long.MaxValue), Seq(1L, 1L)), // add overflow
      (Seq(3L, 4L), Seq(5L, 6L))          // fine: 39
    ).toDF("a", "b")
    def run(): Seq[Option[Long]] =
      df.select(call_function("dot_long", $"a", $"b").as("d"))
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(run() === Seq(None, None, Some(39L)))
    withInterpreted { assert(run() === Seq(None, None, Some(39L))) }
  }

  test("generated and interpreted paths agree") {
    val rng = new scala.util.Random(11L)
    val rows = Seq.fill(50)((Seq.fill(64)(rng.nextInt(2001).toLong - 1000),
      Seq.fill(64)(rng.nextInt(2001).toLong - 1000)))
    val df = rows.toDF("a", "b")
    val gen = df.select(call_function("dot_long", $"a", $"b")).as[Long].collect().toSeq
    withInterpreted {
      val interp = df.select(call_function("dot_long", $"a", $"b")).as[Long].collect().toSeq
      assert(gen === interp)
    }
  }

  test("the kernel runs inside a whole-stage codegen span (no UDF fence)") {
    // a local relation would be constant-folded to LocalTableScan; a
    // parquet scan shows the real pipeline shape
    val plan = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(call_function("dot_float", $"embedding", $"embedding"))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks a WholeStageCodegen span; the projection
    // evaluating the kernel must sit inside one
    // prettyName is the REGISTERED catalog name (dot_float), so plan
    // output and analyzer errors print a name a user can resolve
    assert("""\*\(\d+\) Project \[dot_float""".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("ScalaUDF"), plan)
    assert(!plan.contains("BatchEvalPython"), plan)
  }

  test("wrong arity surfaces as an analyzer error naming the function, not an index crash") {
    for (sql <- Seq("SELECT dot_long(array(1L))",
        "SELECT dot_float(array(1.0F), array(1.0F), array(1.0F))",
        "SELECT float_vec_to_binary()",
        "SELECT binary_to_float_vec(X'00', X'00')")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(sql).collect())
      val msg = e.getMessage
      assert(msg.contains("dot_long") || msg.contains("dot_float") ||
        msg.contains("float_vec_to_binary") || msg.contains("binary_to_float_vec"), msg)
      assert(!msg.contains("IndexOutOfBounds"), msg)
    }
  }

  test("float-vec codec: bit-exact round-trip incl. raw NaN bits, LE layout pinned, both paths") {
    // raw-bit fidelity: ±0, subnormal min, infinities, and a
    // NON-CANONICAL NaN — floatToIntBits would canonicalize it to
    // 0x7fc00000; the codec must never change stored bytes
    val rawNan = java.lang.Float.intBitsToFloat(0x7fc00abc)
    val vecs = Seq(
      Seq(1.5f, -2.25f, 0.0f, -0.0f),
      Seq(Float.MinPositiveValue, Float.MaxValue,
        Float.NegativeInfinity, rawNan),
      Seq.empty[Float])
    val df = vecs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
    def bits(f: Float) = java.lang.Float.floatToRawIntBits(f)
    def run() = df.select($"id",
        call_function("float_vec_to_binary", $"v").as("enc"),
        call_function("binary_to_float_vec",
          call_function("float_vec_to_binary", $"v")).as("rt"))
      .orderBy($"id").collect()
    for (rows <- Seq(run(), withInterpreted(run()))) {
      vecs.zipWithIndex.foreach { case (v, i) =>
        assert(rows(i).getAs[Array[Byte]](1).length === v.length * 4)
        val rt = rows(i).getSeq[Float](2)
        assert(rt.length === v.length, s"row $i length")
        v.indices.foreach(j =>
          assert(bits(rt(j)) === bits(v(j)), s"row $i elem $j bits"))
      }
    }
    // LITTLE-endian pin: 1.0f = 0x3f800000 → bytes 00 00 80 3f (a
    // BE regression would still round-trip — only an absolute layout
    // assertion catches it, and stored BLOBs outlive the codebase)
    val one = spark.sql("SELECT float_vec_to_binary(array(CAST(1.0 AS FLOAT)))")
      .collect().head.getAs[Array[Byte]](0)
    assert(one.toSeq === Seq(0x00, 0x00, 0x80, 0x3f).map(_.toByte))
  }

  test("le codec: bit-identical to the replaced builtin chains on random + edge records (both paths)") {
    // the r21 native LE codec replaced the per-byte builtin plumbing in
    // the S2 account codecs; this pins the new expressions against the
    // OLD expression trees themselves — encode chain
    // unhex(concat(substring(lpad(hex(pmod(v, 2^8n)), 2n, '0') pairs
    // reversed))) and decode chain try_cast(conv(hex(concat(per-byte
    // substrings)), 16, 10) AS bigint) — over random values/records,
    // widths 1/2/4/8, plus the null edges (truncated record, offset past
    // the end, 8-byte value with the top bit set)
    def oldEnc(colExpr: String, nBytes: Int): String = {
      val masked =
        if (nBytes >= 8) colExpr
        else s"pmod($colExpr, ${1L << (8 * nBytes)}L)"
      val hexE = s"lpad(hex($masked), ${2 * nBytes}, '0')"
      val pairs = (nBytes - 1) to 0 by -1 map (i => s"substring($hexE, ${2 * i + 1}, 2)")
      s"unhex(concat(${pairs.mkString(",")}))"
    }
    def oldDec(recCol: String, off: String, nBytes: Int): String = {
      val bytes = (nBytes - 1) to 0 by -1 map (i => s"substring($recCol, ($off) + $i, 1)")
      s"try_cast(conv(hex(concat(${bytes.mkString(",")})), 16, 10) AS bigint)"
    }
    val rng = new scala.util.Random(21L)
    val vals = Seq(0L, 1L, -1L, 255L, 256L, Long.MaxValue, Long.MinValue,
      0x7fL << 56, 0x80L << 55) ++ Seq.fill(40)(rng.nextLong())
    val vdf = vals.toDF("v")
    for (n <- Seq(1, 2, 4, 8)) {
      def encs(d: org.apache.spark.sql.DataFrame) = d.select(
        expr(oldEnc("v", n)).as("o"), expr(s"le_encode(v, $n)").as("g"))
        .collect().map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq))
      for (rows <- Seq(encs(vdf), withInterpreted(encs(vdf))); (o, g) <- rows)
        assert(o === g, s"le_encode width $n")
    }
    // decode over random records, all widths, every offset incl. past-end
    val recs = Seq.fill(12)(Array.fill(rng.nextInt(20))(rng.nextInt(256).toByte)) :+
      Array.fill(16)(0xff.toByte) // 8-byte reads with the top bit set → null
    val rdf = recs.map(Tuple1(_)).toDF("rec")
    for (n <- Seq(1, 2, 4, 8); off <- Seq(1, 2, 5, 13, 18, 25)) {
      def decs(d: org.apache.spark.sql.DataFrame) = d.select(
        expr(oldDec("rec", off.toString, n)).as("o"),
        expr(s"le_decode(rec, $off, $n)").as("g"))
        .collect().map(r =>
          (if (r.isNullAt(0)) None else Some(r.getLong(0)),
           if (r.isNullAt(1)) None else Some(r.getLong(1))))
      for (rows <- Seq(decs(rdf), withInterpreted(decs(rdf))); (o, g) <- rows)
        assert(o === g, s"le_decode width $n off $off")
    }
    // null input propagates
    val nulls = Seq((None: Option[Array[Byte]], None: Option[Long])).toDF("rec", "v")
    val r = nulls.select(expr("le_decode(rec, 1, 4)"), expr("le_encode(v, 4)")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
    // a non-literal width is an analysis error, not a wrong decode
    val e = intercept[Exception](
      spark.sql("SELECT le_decode(X'00', 1, CAST(id AS INT)) FROM range(1)").collect())
    assert(e.getMessage.contains("le_decode"), e.getMessage)
  }

  test("le_decode: an offset below 1 is null at every width (both paths)") {
    // LECodec documents off < 1 as null (the old substring form's
    // negative-offset wraparound is not reproduced); the equivalence
    // test above covers only offsets >= 1. Records are long enough that
    // a wrapped or clamped read would find bytes to decode.
    val recs = Seq(Array.tabulate(16)(i => (i + 1).toByte), Array.fill(16)(0x7f.toByte))
    val rdf = recs.map(Tuple1(_)).toDF("rec")
    for (n <- Seq(1, 2, 4, 8); off <- Seq(0, -3)) {
      def decs(d: org.apache.spark.sql.DataFrame) =
        d.select(expr(s"le_decode(rec, $off, $n)")).collect().map(_.isNullAt(0)).toSeq
      for (nulls <- Seq(decs(rdf), withInterpreted(decs(rdf))))
        assert(nulls === Seq(true, true), s"le_decode width $n off $off")
    }
  }

  test("float-vec codec null contracts: null input, null element, undecodable length") {
    val df = Seq(
      (1, Some(Seq(Some(1.0f), Some(2.0f)))), // fine
      (2, None: Option[Seq[Option[Float]]]),  // null input
      (3, Some(Seq(Some(1.0f), None)))        // null ELEMENT: no fixed-width slot
    ).toDF("id", "v")
    val got = df.select($"id", call_function("float_vec_to_binary", $"v").as("e"))
      .orderBy($"id").collect().map(!_.isNullAt(1)).toSeq
    assert(got === Seq(true, false, false))
    // decode folds a length not divisible by 4 (not this codec's output)
    // to null instead of throwing for the whole corpus
    val bad = Seq(Tuple1(Array[Byte](1, 2, 3))).toDF("b")
    assert(bad.select(call_function("binary_to_float_vec", $"b"))
      .collect().head.isNullAt(0))
  }
}
