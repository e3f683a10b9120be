package graft

import java.nio.file.Files

/** Plain-Scala exhaustive Jaccard enumeration over the gram sets that the
  * d02–d04 oracles' `gramSets` CTE defines: lowercase, split on `\W+`,
  * empty tokens dropped; a text shorter than k tokens is the one gram of
  * its tokens joined by spaces (the empty string for a text with no
  * token), and a null text has no set and pairs with nothing.
  */
object JaccardOracle {

  def gramSet(text: String, k: Int): Option[Set[String]] =
    Option(text).map { t =>
      val toks = t.toLowerCase(java.util.Locale.ROOT).split("\\W+").filter(_.nonEmpty).toSeq
      if (toks.length < k) Set(toks.mkString(" "))
      else toks.sliding(k).map(_.mkString(" ")).toSet
    }

  /** Every (id_a < id_b) pair with inter/union >= t, as a DOUBLE quotient
    * the way the oracle computes it.
    */
  def pairs(docs: Seq[(Long, String)], k: Int, t: Double): Map[(Long, Long), Double] = {
    val sets = docs.flatMap { case (id, text) => gramSet(text, k).map(id -> _) }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      j = (sa intersect sb).size.toDouble / (sa union sb).size if j >= t
    } yield (a, b) -> j).toMap
  }
}

/** d03 (5-gram Jaccard >= 0.9) on six sf0.1 documents whose pairs sit at
  * J = 0.9 exactly, 0.909 and 0.933 — pairs a candidate tier tuned on the
  * fixture (SimHash chunks, Hamming <= 7) dropped — next to unrelated
  * texts. The result must equal the exhaustive enumeration.
  */
class JaccardPairsSpec extends GraftSuite {
  import spark.implicits._

  private val texts = Seq(
    755L -> "column stream order batch query row the merge the table data merge line dup",
    787L -> "column stream order batch query row the merge the table data merge line",
    763L -> "table slow value key agg spark group sort merge key fast scan the customer",
    4993L -> "table slow value key agg spark group sort merge key fast scan the customer dup",
    1290L -> ("customer agg vector agg vector filter group fast row sort merge batch " +
      "filter batch scan filter hash merge"),
    3624L -> ("customer agg vector agg vector filter group fast row sort merge batch " +
      "filter batch scan filter hash merge dup"),
    10L -> "the quick brown fox jumps over the lazy dog and runs far away home",
    11L -> "spark sort merge join shuffles both sides by the join key",
    12L -> "")

  test("d03 returns every 5-gram Jaccard >= 0.9 pair on the documents it once missed") {
    val dir = Files.createTempDirectory("graft-d03").toString
    texts.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/documents.parquet")
    val want = JaccardOracle.pairs(texts, 5, 0.9)
    assert(want.keySet == Set((755L, 787L), (763L, 4993L), (1290L, 3624L)))
    val got = SparkEntry.queries("d03_simhash_pairs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == want)
  }
}
