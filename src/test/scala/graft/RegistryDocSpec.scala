package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps README's correctness-gate numbers honest: the "X of the Y
  * `SparkEntry.queries`" sentence must be derived from the registry,
  * not hand-maintained (the round-5 review caught it stale). Also pins
  * the registry invariants the driver relies on: every oracle key names
  * a registered query, and exactly the two by-construction-approximate
  * queries lack oracles.
  */
class RegistryDocSpec extends AnyFunSuite {

  test("every oracleSql key has a matching queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("every registered query has an oracle (approx ops gated via audits)") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty,
      s"queries without oracle SQL (drivers record these as errors): $noOracle")
  }

  test("oracle SQL is built once per query, not per oracleSql call") {
    assert(SparkEntry.oracleSql("dedup_kcore") eq SparkEntry.oracleSql("dedup_kcore"))
  }

  test("no two registered names one edit apart (near-twin guard)") {
    // The customer_rfm_segments / customers_rfm_segments pair survived
    // two rounds because the names differed by one typo; distance-1
    // names are either a duplicate implementation or a trap for users
    // typing one and getting the other. Levenshtein here, not just
    // prefix checks — insertions inside the name count too.
    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      val cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        Array.copy(cur, 0, prev, 0, b.length + 1)
      }
      prev(b.length)
    }
    val names = SparkEntry.queries.keys.toIndexedSeq.sorted
    val close = for {
      i <- names.indices; j <- (i + 1) until names.length
      // cheap length prescreen: |len diff| > 1 can't be distance 1
      if math.abs(names(i).length - names(j).length) <= 1
      if lev(names(i), names(j)) <= 1
    } yield (names(i), names(j))
    assert(close.isEmpty, s"near-twin query names: $close")
  }

  test("README's gate counts match the registries") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val expected =
      s"${SparkEntry.oracleSql.size} of the ${SparkEntry.queries.size} " +
        "`SparkEntry.queries` have DuckDB oracle SQL"
    assert(readme.contains(expected),
      s"README correctness-gate sentence is stale; expected: $expected")
  }
}
