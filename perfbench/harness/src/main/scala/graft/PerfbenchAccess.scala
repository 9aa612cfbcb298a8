package graft

/** `functions.Fr` is package-private to the engine; this re-exports the
  * two calls the kernel probe times. */
object PerfbenchAccess {
  def frMont(x: BigInt): Array[Long] = functions.Fr.toMont(functions.Fr.fromBigInt(x))
  def frMontMul(a: Array[Long], b: Array[Long], out: Array[Long]): Unit =
    functions.Fr.montMul(a, b, out)
}
