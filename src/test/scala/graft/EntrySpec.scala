package graft

import org.scalatest.funsuite.AnyFunSuite

/** driver-contract smoke checks */
class EntrySpec extends AnyFunSuite with CacheDrained {

  test("entry returns rows > 0 on sf0.001") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("query names are unique; every oracle key has a query") {
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.benchQueries.toSet.subsetOf(SparkEntry.queries.keySet))
  }

  test("Bench.r6 writes JSON numbers under a decimal-comma default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(Bench.r6(1.5) == "1.5")
      assert(Bench.r6(2.0) == "2")
    } finally java.util.Locale.setDefault(saved)
  }

  /** sim_near_dup_t08 is empty BY DESIGN on the demo corpus (max cosine
    * ~0.51 < tau=0.8) — the oracle agrees on empty, and SimilaritySpec pins
    * its candidate pipeline; every other query must return rows */
  private val EmptyByDesign = Set("sim_near_dup_t08")

  test("every registered query returns rows on sf0.001") {
    val spark = TestSpark.spark
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, TestSpark.Sf).count()
      if (EmptyByDesign(name)) assert(n == 0, s"query $name expected empty, got $n")
      else assert(n > 0, s"query $name returned 0 rows")
    }
  }
}
