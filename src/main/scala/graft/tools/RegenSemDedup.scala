package graft.tools

/** One-shot regeneration helper for SemDedup.Sf001Centroids. */
object RegenSemDedup {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local(8)
    graft.operators.SemDedup.printSf001Centroids(s, "/root/testdata/sf0.01")
    s.stop()
  }
}
