package graft

/** Driver-contract drift gates. */
class ContractSpec extends SparkSpec {

  test("every driver query has a DuckDB oracle (no silent rows-only fallbacks)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q === o, s"queries without oracle: ${q -- o}; oracles without query: ${o -- q}")
  }

  /** Freeze guard for the query registry. `Bench` and `Verify` walk the
    * two derived maps in iteration order (it decides which query pays for
    * a lazy stage build), so both must iterate alike; the oracle names and
    * SQL, in that order, hash to the committed value. A deliberate query or
    * oracle change updates `frozenOracleSha256` in the same commit. */
  test("registry views: 92 names, one iteration order, oracle text frozen") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size === 92 && names.distinct.size === 92)
    assert(SparkEntry.queries.keys.toSeq === SparkEntry.oracleSql.keys.toSeq)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.foreach { case (name, sql) =>
      md.update(name.getBytes("UTF-8")); md.update(0.toByte)
      md.update(sql.getBytes("UTF-8")); md.update(1.toByte)
    }
    assert(md.digest().map(b => f"$b%02x").mkString === frozenOracleSha256)
  }

  private val frozenOracleSha256 =
    "e549f07fd21dc3c59808d5244b5b1f25700685ffcb0ce6b707181303a20e8dd2"

  test("entry() produces rows on sf0.001 (driver smoke check)") {
    assert(SparkEntry.entry(spark).limit(1).count() === 1L)
  }

  test("oracle SQL contains no stripMargin-mangled fragments") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("\n|"), s"$name: unstripped margin")
      // a line starting with a single '|' means stripMargin ate a '||'
      sql.linesIterator.foreach { l =>
        val t = l.trim
        assert(!(t.startsWith("|") && !t.startsWith("||")),
          s"$name: suspicious line '$t'")
      }
    }
  }
}
