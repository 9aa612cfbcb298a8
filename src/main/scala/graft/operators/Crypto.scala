package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.FloorTime
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Crypto/commitment operators (SURVEY §2.8 crypto, §2.10): Poseidon
  * commitments, nullifier derivation + replay dedup, Merkle root +
  * membership. Deterministic pure-JVM kernels → rows-only checks (DuckDB
  * has no Poseidon); the structural/algebraic properties are pinned by
  * CryptoSpec instead. */
object Crypto {

  private def T(s: SparkSession, dir: String) = Tables(s, dir)

  /** Null-safe 2-input Poseidon: reference-type UDF params receive null
    * through (no auto null-skip), and a null input here means an upstream
    * null key (events admit NULL user_id — p6_validation classifies
    * exactly that case), which must surface as a null commitment row, not
    * an executor NullPointerException. */
  private def poseidon2Udf = udf((a: Array[Byte], b: Array[Byte]) =>
    if (a == null || b == null) Option.empty[Array[Byte]]
    else Some(graft.functions.Poseidon.toBytes32(graft.functions.Poseidon.hash2(
      graft.functions.Poseidon.fromBytes32(a), graft.functions.Poseidon.fromBytes32(b)))))

  /** Long-keyed twin of [[poseidon2Udf]] for the high-volume paths whose
    * inputs already ARE non-negative longs (user_id, epoch_day): the
    * byte-array form forced every row through hex → lpad(64) → unhex —
    * three string allocations per argument — purely to re-encode a long
    * as a field element. Routed through
    * [[graft.functions.Poseidon.hash2LongsBytes]] (r18): the limb form
    * of an unsigned long is [x,0,0,0], so the hot path constructs no
    * BigInt at all; the unsigned reading matches the byte path's
    * hex-render bit-for-bit even on inputs the corpus never produces
    * (pre-1970 epoch days), and the digests are unchanged
    * (DeterminismSpec/CryptoSpec pin them). java.lang.Long params so a
    * null key still surfaces as a null nullifier (primitive Long would
    * zero-fill it — a phantom key). */
  private def poseidon2LongUdf = udf((a: java.lang.Long, b: java.lang.Long) =>
    if (a == null || b == null) Option.empty[Array[Byte]]
    else Some(graft.functions.Poseidon.hash2LongsBytes(a.longValue, b.longValue)))

  /** Poseidon commitment per row (client.ts:147-173 commitment =
    * Poseidon(owner, agent, …)): commit customer ids with an md5-derived
    * blinding factor; emitted as hex. */
  val cryptoCommitment = QueryDef(
    "crypto_commitment",
    (s, dir) => {
      val f = poseidon2Udf
      // sort on the RAW key below the Poseidon projection via the
      // shared kernelSorted (the s2_decode_fast_action rule, r14):
      // sorted above, the range exchange's sampling pass evaluates the
      // field-arithmetic UDF twice per row. This query is where the
      // family's AQE-coalesce exemption was found (r18 stage dump: AQE
      // merged the post-sort stage to 16 of 32 tasks under the
      // catalog's densest per-row kernel, maxTask 10.1 s / sumTask
      // 147 s; the explicit-count exchange restored 32 tasks, 9.90 →
      // 6.43 s) — kernelSorted now carries the explicit
      // max(defaultParallelism, shuffle.partitions) count for the
      // whole family (r19).
      graft.QueryDef.kernelSorted(
        T(s, dir).customer, col("c_custkey")) { sorted =>
        sorted.select(col("c_custkey"),
          lower(hex(f(
            unhex(lpad(hex(col("c_custkey")), 64, "0")),
            unhex(md5(col("c_name")))))).as("commitment"))
      }
    },
    oracle = None)

  /** Nullifier one-use-per-epoch dedup (client.ts:1753-1762,
    * agent_reputation.circom:105-113): nullifier = Poseidon(user, epoch);
    * first event per nullifier wins, replays counted. */
  val cryptoNullifierDedup = QueryDef(
    "crypto_nullifier_dedup",
    (s, dir) => {
      val f = poseidon2LongUdf
      // DISTINCT-FIRST (r18): the nullifier is a pure function of
      // (user_id, epoch_day), so the Poseidon kernel — the single most
      // expensive per-row computation in the catalog — runs once per
      // DISTINCT key pair, not once per event: a cheap long-pair
      // pre-aggregation (map-side combining) collapses the 10M-event
      // sf10 tier to its ~4M live pairs before any field arithmetic.
      // The re-aggregation by nullifier below keeps the semantics
      // EXACTLY the original even in the cryptographically-impossible
      // collision case (two pairs, one digest): min-of-min first_use and
      // sum(cnt)−1 replays are what the per-event groupBy computed.
      val pairs = T(s, dir).events
        // floor form, not bare `div` (truncation): the reference derives
        // the epoch with JS Math.floor (client.ts:1753-1762), which
        // floors a pre-1970 timestamp to the previous day where
        // truncation rounds it toward zero — a different nullifier for
        // the same (user, day). Corpus-neutral (no pre-1970 ts at any
        // SF); same rule as st1/st2's pmod floor forms (r13 sweep).
        .withColumn("epoch_day",
          FloorTime.floorDiv("ts", 86400000000000L))
        // a NULL user_id (or null ts → null epoch) yields a null
        // nullifier — an unattributable event cannot claim a one-use
        // slot, mirroring the reference's invalid-commitment rejection
        // (lib.rs:105); filtered BEFORE the hash, same frontier as the
        // old post-hash isNotNull
        .filter(col("user_id").isNotNull && col("epoch_day").isNotNull)
        .groupBy(col("user_id"), col("epoch_day"))
        .agg(min(col("event_id")).as("first_use"), count(lit(1)).as("cnt"))
      // the oracle-mandated global sort sits above this aggregation, and
      // orderBy's range sampler EXECUTES its child once before the sort
      // job does — the j1_fk_join memo rule (QueryDef.scala): memoize
      // the aggregated frame so the kernel+agg subtree evaluates once
      // (single source → single-version token)
      val agg = RunCaches.cachedFeature(s, s"crypto_nullifier:$dir",
          RunCaches.srcVersion(s, dir, "events.parquet")) {
        pairs
          // long-keyed UDF on the DISTINCT frame: no BigInt, no string
          // re-encode — see poseidon2LongUdf
          .withColumn("nullifier", lower(hex(f(
            col("user_id"), col("epoch_day")))))
          .groupBy(col("nullifier"))
          .agg(min(col("first_use")).as("first_use"),
            (sum(col("cnt")) - lit(1)).as("replays_rejected"))
      }
      agg.orderBy(col("nullifier"))
    },
    oracle = None)

  /** Merkle root over commitment leaves (merkle.ts:84-110), via the
    * distributed block-aligned fold. One row: depth, n_leaves, root hex. */
  val cryptoMerkleRoot = QueryDef(
    "crypto_merkle_root",
    (s, dir) => {
      val spark = s
      import spark.implicits._
      // Leaf index = the key's DENSE RANK, not the key itself. The key
      // was the index on the driver tiers (c_custkey is 0-based
      // contiguous there, so this is output-identical), but the r15
      // sf10 sweep fed a synthesized tier whose keys carry replica
      // strides (max key 15.5e9 over 1.5M rows) and the left-filled
      // guard rightly refused — the realistic shape too: a production
      // key space has gaps (deletions, strides), and a tree over an
      // append log wants positions, not keys. Derived with
      // [[ScaleOps.strataPrefixSum]] (empty strata = one global
      // exclusive prefix-sum of 1 in key order: range-shuffle once,
      // bounded per-chunk collect, narrow local pass) — NEVER a
      // single-task row_number window, the classic 100 TB scale-killer.
      val keyed = T(s, dir).customer
        .select(col("c_custkey").cast("long").as("leaf_key"),
          unhex(md5(col("c_name"))).as("leaf"))
      val leaves = ScaleOps.strataPrefixSum(
          keyed, Seq.empty, Seq("leaf_key"), lit(1L), "leaf_index")
        .select(col("leaf_index"), col("leaf"))
      // depth sized to the CORPUS, floored at the old demo depth 12: a
      // hard-coded 12 caps the tree at 4096 leaves and the range guard
      // rightly refuses sf0.1's 15000 customers (r13 sweep). With dense
      // indices the max index is n−1, so one metadata-cheap count sizes
      // the tree; the (key, leaf) scan + shuffle happens once, inside
      // the prefix-sum kernel, whose output feeds the fold directly.
      val n = keyed.count()
      val depth = math.max(12,
        64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1)))
      // blockDepth sized to the CORPUS like depth is (r19 stage dump): a
      // fixed 6 left 2^(depth-6) block tops for the DRIVER fold — 23k
      // serial Poseidon hashes ≈ 1.7 s at sf10 (75 µs/hash measured,
      // HashBench) for zero distributed win. depth-11 keeps ≥ ~2^11
      // block tops only when the corpus is big enough to amortize them,
      // floors at 6 so the small tiers keep enough blocks to parallelize
      // (the root is blockDepth-INDEPENDENT — MerkleSpec pins
      // bit-identity with the local fold at several blockDepths).
      val blockDepth = math.min(depth - 1, math.max(6, depth - 11))
      val root = graft.functions.Merkle.rootDistributed(s, leaves, depth, blockDepth)
      Seq((depth, n, graft.functions.Poseidon.toBytes32(root)
        .map("%02x".format(_)).mkString))
        .toDF("depth", "n_leaves", "root_hex")
    },
    oracle = None)

  /** SHA-256 fallback commitment scheme (private-escrow.ts:95-121): the
    * reference's non-Poseidon path — commitment = '0x' +
    * sha256("commitment:<amount_lamports>:<blinding>"), verified by
    * regenerate-and-compare. Unlike the Poseidon ops this is fully
    * SQL-expressible, so the crypto family gets one exact oracle row;
    * `verify_tampered` pins that a shifted amount breaks the binding. */
  val cryptoShaCommitment = QueryDef(
    "crypto_sha_commitment",
    (s, dir) => {
      // concat, NOT concat_ws: concat_ws silently SKIPS null arguments,
      // so a null amt hashed "commitment::<blinding>" — and since
      // amt+1 is also null, the tampered preimage was the IDENTICAL
      // string, reporting verify_tampered = TRUE (binding "broken")
      // while the oracle's null-propagating || yielded NULL. concat
      // propagates null like ||, so a null amount has a null
      // commitment on both engines (r13 third sweep).
      def commit(amount: Column, blinding: Column): Column =
        concat(lit("0x"), sha2(concat(
          lit("commitment:"), amount.cast("string"),
          lit(":"), blinding.cast("string")), 256))
      // global sort on the RAW key BELOW the hash projection via the
      // shared kernelSorted (the s2_decode_fast_action rule, r14; the
      // explicit-count AQE-coalesce exemption, r19): sorted above, the
      // range exchange's boundary-sampling pass would evaluate the
      // 3×sha256 per-row projection twice
      graft.QueryDef.kernelSorted(
        Tables(s, dir).events, col("event_id")) { sorted => sorted
        // guarded lamports fold, the events.value family rule: NaN/Inf
        // or |amount| past 2^63 folds to null instead of an ANSI throw
        .withColumn("amt", expr("""case
          when abs(floor(value * 1e9)) < 9.223372036854776e18
          then cast(floor(value * 1e9) as bigint) end"""))
        .withColumn("blinding", pmod(col("event_id"), lit(1000000L)) * lit(2654435761L))
        .withColumn("commitment", commit(col("amt"), col("blinding")))
        .select(
          col("event_id"),
          col("commitment"),
          (commit(col("amt"), col("blinding")) === col("commitment")).as("verify_ok"),
          (commit(col("amt") + lit(1L), col("blinding")) === col("commitment"))
            .as("verify_tampered")) }
    },
    oracle = Some("""
      WITH c AS (
        SELECT event_id,
          CASE WHEN ABS(FLOOR(value * 1e9)) < 9223372036854775808.0
               THEN CAST(FLOOR(value * 1e9) AS BIGINT) END AS amt,
          (event_id % 1000000) * 2654435761 AS blinding
        FROM events)
      SELECT event_id,
        '0x' || sha256('commitment:' || amt || ':' || blinding) AS commitment,
        CASE WHEN amt IS NULL THEN NULL ELSE TRUE END AS verify_ok,
        ('0x' || sha256('commitment:' || (amt + 1) || ':' || blinding)) =
          ('0x' || sha256('commitment:' || amt || ':' || blinding)) AS verify_tampered
      FROM c ORDER BY event_id"""))

  /** Merkle membership proofs, generated DISTRIBUTED
    * ([[graft.functions.Merkle.proofDistributed]]: block-local paths +
    * a driver fold over block tops only — merkle.ts:112-166 re-shaped
    * for the depth-20/1M-leaf registry, where proof generation is itself
    * a distributed query) and verified DISTRIBUTED per row
    * (merkle.ts:171-195 fold). The n=64 / depth-8 demo keeps the output
    * oracle-stable; MerkleSpec drives the same path at depth 20 and
    * pins that the driver-side data stays ≤ 2^(depth−blockDepth) block
    * rows. Per-target leaf bytes are a bounded targets-only collect (a
    * prover always holds the leaf it proves). A tampered sibling per
    * row pins the negative case. Rows-only (Poseidon). */
  val cryptoMerkleVerify = QueryDef(
    "crypto_merkle_verify",
    (s, dir) => {
      import s.implicits._
      val P = graft.functions.Poseidon
      val M = graft.functions.Merkle
      val depth = 8
      val n = 64
      // ONE bounded collect (the n=64 demo leaves) feeds BOTH the
      // distributed proof pass and the per-target leaf lookup — the
      // lazy frame would re-run the customer scan for each
      val leafRows = T(s, dir).customer
        .filter(col("c_custkey") < lit(n.toLong))
        .select(col("c_custkey").cast("long").as("leaf_index"),
          unhex(md5(col("c_name"))).as("leaf"))
        .collect()
      val leafBytes = leafRows
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("leaf")).toMap
      val leaves = leafRows.toSeq
        .map(r => (r.getLong(0), r.getAs[Array[Byte]]("leaf")))
        .toDF("leaf_index", "leaf")
      val (root, proofs) =
        M.proofDistributed(s, leaves, 0L until n.toLong, depth, blockDepth = 4)
      val proofRows = proofs.toSeq.sortBy(_._1).map { case (i, (sibs, bits)) =>
        (i, leafBytes(i), sibs.map(P.toBytes32).toArray, bits.toArray)
      }
      val rootBytes = P.toBytes32(root)
      val verifyUdf = udf(
        (leaf: Array[Byte], sibs: Seq[Array[Byte]], bits: Seq[Int], tamper: Boolean) => {
          val sib0 = if (tamper) sibs.updated(0, Array.fill(32)(0x5a.toByte)) else sibs
          M.verify(P.fromBytes32(leaf), sib0.map(P.fromBytes32),
            bits, P.fromBytes32(rootBytes), depth)
        })
      proofRows.toDF("leaf_index", "leaf", "sibs", "bits")
        .withColumn("valid", verifyUdf(col("leaf"), col("sibs"), col("bits"), lit(false)))
        .withColumn("tampered_valid",
          verifyUdf(col("leaf"), col("sibs"), col("bits"), lit(true)))
        .select(col("leaf_index"), col("valid"), col("tampered_valid"))
        .orderBy(col("leaf_index"))
    },
    oracle = None)

  /** crypto_groth16_verify: REAL Groth16 verification over BN254 — the
    * cryptographic tier of the reference's reputation gate
    * (shadow-id-gate.ts:158-183 routes `encodedProof` through
    * `zk.verifier`; reputation-prover-impl.ts:162-207 produces the
    * proofs), complementing the structural tier `crypto_verify_proof`
    * already implements (:127-137). Each row derives a synthetic
    * Groth16 instance from its doc_id — the five trapdoor scalars are
    * fixed, C's scalar is forced by the acceptance equation, so the
    * proof is valid BY CONSTRUCTION without a prover — encodes it in
    * the reference's exact 256-byte on-chain layout
    * (reputation-prover-impl.ts:171-186: A pre-negated, pi_b
    * imaginary-first), applies a doc_id-classed tamper (none /
    * flipped byte / wrong public input / truncation), then decodes
    * and verifies with the full pairing check
    * ([[graft.functions.BN254.groth16Verify]]: on-curve + subgroup
    * guards, e(−A,B)·e(α,β)·e(X,γ)·e(C,δ) = 1 with one shared final
    * exponentiation). Only the untampered class may verify.
    *
    * Pure per-row scalar kernel (~4 Miller loops per row, no shuffle)
    * — embarrassingly parallel over a 100 TB proofs table, though the
    * realistic workload is the reference's: a handful of proofs per
    * gate call. Rows-only: DuckDB has no pairing (BN254Spec pins the
    * pairing algebra; the equality below pins the catalog wiring). */
  val cryptoGroth16Verify = QueryDef(
    "crypto_groth16_verify",
    (s, dir) => {
      import graft.functions.BN254._
      val (alphaS, betaS, gammaS, deltaS) =
        (BigInt(5), BigInt(7), BigInt(11), BigInt(13))
      val icS = IndexedSeq(BigInt(3), BigInt(29))
      val vk = VerifyingKey(
        G1.gen * alphaS, G2.gen * betaS, G2.gen * gammaS, G2.gen * deltaS,
        icS.map(G1.gen * _))
      // per-row synthetic instance + tamper class, emitted as the same
      // (proof bytes, public-input strings) surface a real proofs table
      // carries — so the query exercises the PUBLIC verifier UDF, not a
      // private fused path
      val proofGenUdf = udf((docId: Long) => {
        val cls = (docId % 4).toInt
        val pub = BigInt(docId) + 17
        val aS = BigInt(101) + docId
        val bS = BigInt(103) + 2 * docId
        val ell = icS.head + pub * icS(1)
        val cS = ((aS * bS - alphaS * betaS - ell * gammaS) *
          deltaS.modInverse(R)).mod(R)
        val bytes0 = encodeProofBytes(
          Proof(G1.gen * aS, G2.gen * bS, G1.gen * cS))
        val bytes = cls match {
          case 1 => bytes0.updated(5, (bytes0(5) ^ 0x01).toByte) // corrupt A.x
          case 3 => bytes0.take(255) // truncated
          case _ => bytes0
        }
        val checkPub = if (cls == 2) pub + 1 else pub
        (bytes, Seq(checkPub.toString))
      })
      T(s, dir).documents
        .filter(col("doc_id") < lit(8L))
        .select(col("doc_id"), proofGenUdf(col("doc_id")).as("p"))
        .select(col("doc_id"),
          groth16VerifyUdf(vk)(col("p._1"), col("p._2")).as("r"))
        .select(col("doc_id"), col("r._1").as("decoded"),
          col("r._2").as("valid"))
        .orderBy(col("doc_id"))
    },
    oracle = None)

  /** Library surface of the Groth16 tier: a reusable verifier UDF over
    * any proofs table — (proof bytes in the reference's 256-byte
    * layout, public inputs as decimal strings, since field elements
    * exceed long) → struct(decoded, valid). False-not-throw on every
    * malformed input, per the gate's error contract. */
  def groth16VerifyUdf(vk: graft.functions.BN254.VerifyingKey)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    // vk validation ONCE at construction, not per row: the three G2
    // subgroup checks on beta/gamma/delta are full 254-bit scalar
    // multiplications (~380 modular inversions each) over points that
    // never change across the table — per row only proof.b pays one
    val vkOk = graft.functions.BN254.vkValid(vk)
    udf((bytes: Array[Byte], pubs: Seq[String]) => {
      import graft.functions.BN254._
      val parsed =
        if (pubs == null) None
        else scala.util.Try(pubs.map(BigInt(_))).toOption
      val decoded = decodeProofBytes(bytes)
      ( decoded.isDefined,
        vkOk && (for { p <- decoded; xs <- parsed }
          yield groth16VerifyTrustedVk(vk, p, xs)).getOrElse(false))
    }).asNonNullable()
  }

  val defs: Seq[QueryDef] = Seq(
    cryptoCommitment, cryptoNullifierDedup, cryptoMerkleRoot,
    cryptoShaCommitment, cryptoMerkleVerify, cryptoGroth16Verify)
}
