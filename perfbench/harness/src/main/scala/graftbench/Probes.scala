package graftbench

import graft.PerfbenchAccess.{frMont, frMontMul}
import graft.functions.{BN254, Merkle, Poseidon}

/** Layer probes a traced run adds after its measured region: the per-row
  * crypto kernels timed by direct calls, and one cold build plus one
  * adoption of the versioned ingest index. */
object Probes {
  /** Median seconds per call of `f` over `rounds` rounds of `n` calls. */
  private def perCall(n: Int, rounds: Int)(f: Int => Unit): Double = {
    (0 until n).foreach(f)  // warm-up
    val xs = (0 until rounds).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { f(i); i += 1 }
      (System.nanoTime() - t0) / 1e9 / n
    }.sorted
    xs(xs.size / 2)
  }

  def kernels(c: Ctx): Unit = c.trace.span("kernel", "functions") {
    var h = BigInt(1)
    val hash2 = c.trace.span("kernel", "poseidon_hash2") {
      perCall(2000, 5) { i => h = Poseidon.hash2(h, BigInt(i)) }
    }
    val a = frMont(BigInt("1234567890123456789012345678901234567"))
    val b = frMont(BigInt("9876543210987654321098765432109876543"))
    val o = new Array[Long](4)
    val mont = c.trace.span("kernel", "fr_montmul") {
      perCall(200000, 5) { _ => frMontMul(a, b, o); a(0) ^= o(0) & 1L }
    }
    val leaves = (0 until 256).map(i => BigInt(i + 1))
    val merkle = c.trace.span("kernel", "merkle_root_local") {
      perCall(3, 5) { _ => Merkle.rootLocal(leaves, 8) }
    }
    // the synthetic Groth16 instance of BN254Spec: all trapdoor scalars
    // chosen, so C is forced by the acceptance equation
    import BN254._
    val (al, be, ga, de) = (BigInt(5), BigInt(7), BigInt(11), BigInt(13))
    val ic = IndexedSeq(BigInt(3), BigInt(29), BigInt(31))
    val pub = Seq(BigInt(19), BigInt(23))
    val vk = VerifyingKey(G1.gen * al, G2.gen * be, G2.gen * ga, G2.gen * de,
      ic.map(G1.gen * _))
    val (as, bs) = (BigInt(101), BigInt(103))
    val ell = ic.head + pub.zip(ic.drop(1)).map { case (x, k) => x * k }.sum
    val cs = ((as * bs - al * be - ell * ga) * de.modInverse(R)).mod(R)
    val proof = Proof(G1.gen * as, G2.gen * bs, G1.gen * cs)
    require(groth16Verify(vk, proof, pub), "groth16 probe: synthetic proof rejected")
    val groth = c.trace.span("kernel", "groth16_verify") {
      perCall(1, 3) { _ => groth16Verify(vk, proof, pub) }
    }
    c.trace.put("functions.poseidon_hash2_us", hash2 * 1e6)
    c.trace.put("functions.fr_montmul_ns", mont * 1e9)
    c.trace.put("functions.merkle_root_local_ms", merkle * 1e3)
    c.trace.put("functions.groth16_verify_ms", groth * 1e3)
  }

  /** A cold build of the ingest index into a fresh base, then the second
    * call, which adopts the published version. */
  def index(c: Ctx, dir: String): Unit = {
    val base = s"${c.stateDir}/probe-index"
    val prev = c.spark.conf.get("spark.graft.minhash.indexBase")
    c.spark.conf.set("spark.graft.minhash.indexBase", base)
    try {
      graft.operators.RunCaches.clearAll()
      val t0 = System.nanoTime()
      c.trace.span("index", "build") {
        graft.operators.IngestIncr.ensurePipeIngestIndex(c.spark, dir)
      }
      val t1 = System.nanoTime()
      c.trace.span("index", "adopt") {
        graft.operators.IngestIncr.ensurePipeIngestIndex(c.spark, dir)
      }
      val t2 = System.nanoTime()
      c.trace.put("index.build_s", (t1 - t0) / 1e9)
      c.trace.put("index.adopt_s", (t2 - t1) / 1e9)
    } finally c.spark.conf.set("spark.graft.minhash.indexBase", prev)
  }
}
