package graft.perfbench

import graft.functions.{Fr, Poseidon}

/** Per-call cost of the two crypto kernels under the `functions` layer,
  * in the loop shape of the engine's HashBench: warm up, then time a
  * chained loop whose result is folded into a printed value, so the JIT
  * cannot drop the work. It lives under `graft` because `Fr` is
  * package-private there. Returns (µs per hash2, ns per montMul). */
object Kernels {
  def probe(): (Double, Double) = {
    var h = BigInt(1)
    var i = 0
    while (i < 10000) { h = Poseidon.hash2(h, BigInt(i)); i += 1 }
    val nHash = 20000
    val t0 = System.nanoTime()
    i = 0
    while (i < nHash) { h = Poseidon.hash2(h, BigInt(i)); i += 1 }
    val hashUs = (System.nanoTime() - t0) / 1e3 / nHash

    var a = Fr.toMont(Fr.fromBigInt(h))
    val b = Fr.toMont(Fr.fromBigInt(h + 7))
    var out = new Array[Long](4)
    def mulLoop(n: Int): Unit = {
      var k = 0
      while (k < n) {
        Fr.montMul(a, b, out)
        val t = a; a = out; out = t
        k += 1
      }
    }
    mulLoop(1000000)
    val nMul = 2000000
    val t1 = System.nanoTime()
    mulLoop(nMul)
    val mulNs = (System.nanoTime() - t1).toDouble / nMul
    println(s"[kernels] hash2 ${hashUs} us, montMul ${mulNs} ns, fold ${h.bitLength} ${a(0) ^ a(3)}")
    (hashUs, mulNs)
  }
}
