package graft

import graft.sql.Dialect

/** Times the pure-text statement pipeline (the per-round driver cost
  * of the recursion drain loops, and the per-call cost of Table.sql).
  */
object DialectCostProbe {
  def main(args: Array[String]): Unit = {
    val step = """SELECT e7.dst, r.d + 1 FROM __rec_reach7_ab12cd34 r
           JOIN __rec_e7_ab12cd34 e7 ON e7.src = r.id WHERE r.d < 16"""
    // warm
    (1 to 20).foreach { _ =>
      graft.sql.SampleSql.splitUsingSample(step)
      graft.sql.RecursiveUnion.parse(step)
      Dialect.lowerClauses(step)
    }
    val n = 200
    var t0 = System.nanoTime()
    (1 to n).foreach(_ => graft.sql.SampleSql.splitUsingSample(step))
    println(f"[cost] splitUsingSample: ${(System.nanoTime() - t0) / 1e6 / n}%.2f ms")
    t0 = System.nanoTime()
    (1 to n).foreach(_ => graft.sql.RecursiveUnion.parse(step))
    println(f"[cost] RecursiveUnion.parse: ${(System.nanoTime() - t0) / 1e6 / n}%.2f ms")
    t0 = System.nanoTime()
    (1 to n).foreach(_ => Dialect.lowerClauses(step))
    println(f"[cost] dialect lower chain: ${(System.nanoTime() - t0) / 1e6 / n}%.2f ms")
    t0 = System.nanoTime()
    (1 to n).foreach(_ => graft.sql.AsOfSql.detect(step))
    println(f"[cost] AsOfSql.detect: ${(System.nanoTime() - t0) / 1e6 / n}%.2f ms")
  }
}
