package perfbench

/** Generator determinism: the same seed must give the same inputs and
  * a different seed different ones, for every generated table. */
object SelfTest {
  def run(): Boolean = {
    val gens: Seq[(String, Long => Long)] = Seq(
      "clustered" -> (s => Gen.fingerprint(Gen.clustered(s, 500, 64, 10))),
      "near_dup_vectors" -> (s => Gen.fingerprint(Gen.withNearDups(s, 500, 64, 0.05)._1)),
      "documents" -> (s => Gen.fingerprint(Gen.documents(s, 500, 0.05)._1)))
    gens.map { case (name, fp) =>
      val (a, b, c) = (fp(7L), fp(7L), fp(8L))
      val ok = a == b && a != c
      println(s"[selftest] $name seed7=$a seed7again=$b seed8=$c ${if (ok) "ok" else "FAIL"}")
      ok
    }.forall(identity)
  }
}
