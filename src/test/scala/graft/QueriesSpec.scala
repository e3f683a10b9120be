package graft

/** Every declared driver-contract query runs at sf0.001 and produces a
  * sane result; the oracle map never references an undeclared query.
  */
class QueriesSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  // queries whose semantics can legitimately yield few/no rows at tiny SF
  private val mayBeSmall = Set(
    "d02_minhash_pairs", "d03_simhash_pairs", "d04_ngram_jaccard",
    "d05_embed_neardup", "s02_ann_lsh", "j02_anti_join",
    // phrase occurrences are corpus-content-dependent: the 50-doc
    // sf0.001 slice happens not to contain the fixture phrase
    "s18_phrase_search")

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, dir)
      val n = df.count()
      if (!mayBeSmall(name)) assert(n > 0, s"$name returned no rows")
      else assert(n >= 0)
    }
  }

  test("io16 runs from a data directory whose name is not a SQL identifier") {
    // io16 names its bucketed tables after the data directory
    val link = java.nio.file.Files.createTempDirectory("graft-io16").resolve("sf-0.01")
    java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get("/root/testdata/sf0.01"))
    val q = SparkEntry.queries("io16_bucketed_join")
    val got = q(spark, link.toString).collect().toSeq
    assert(got.nonEmpty)
    assert(got == q(spark, "/root/testdata/sf0.01").collect().toSeq)
  }

  test("ap03 CMS error-contract gates hold at sf0.001 too") {
    // the driver verifies gates at sf0.01; this guards the other SF the
    // tests can reach (sf0.1 checked in the bench protocol)
    val df = SparkEntry.queries("ap03_freq_sketch")(spark, dir)
    assert(df.filter("NOT lower_ok OR NOT upper_ok").count() == 0L)
  }
}
