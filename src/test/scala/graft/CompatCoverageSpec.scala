package graft

import java.nio.file.{Files, Paths}
import graft.engine.{Flow, TuktuCompat}

/** Keeps the COVERAGE.md FQCN tally honest: the tally is the flow-node
  * registry's FQCN keys plus [[TuktuCompat.rejects]], and COVERAGE.md must
  * state the same counts. */
class CompatCoverageSpec extends SparkSpec {

  private val fqcnGenerators = Flow.generators.keySet.filter(_.startsWith("tuktu."))
  private val fqcnProcessors = Flow.processors.keySet.filter(_.startsWith("tuktu."))

  test("executes and rejects are disjoint; mode-limited names execute") {
    val entries = Flow.generators.keySet ++ Flow.processors.keySet
    assert(entries.intersect(TuktuCompat.rejects.keySet).isEmpty)
    // entries with one rejecting mode (PacketFilter's groovy type,
    // MapMerger's priority-less combine) are still entries
    assert(Set("tuktu.processors.PacketFilterProcessor",
      "tuktu.dlib.processors.MapMergerProcessor").subsetOf(fqcnProcessors))
  }

  test("the COVERAGE.md round-list tally equals the declared query ledger") {
    // the r13/r14 off-by-one class: a query shipped in SparkEntry.queries
    // but dropped from (or double-counted in) the COVERAGE.md round list
    // must fail here, not in round review. The list's contract: tallies
    // are non-decreasing, each entry's closing "A → B" lands on B = its
    // declared tally and chains from the previous arrow's target, and the
    // final tally IS the query ledger.
    val md = new String(Files.readAllBytes(Paths.get("COVERAGE.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val decl = """(?m)^r\d+(?:-tail)? = (\d+) \(""".r
      .findAllMatchIn(md).map(_.group(1).toInt).toSeq
    assert(decl.nonEmpty, "COVERAGE.md round list not found")
    assert(decl == decl.sorted, s"round tallies must be non-decreasing: $decl")
    assert(decl.last == SparkEntry.queries.size,
      s"COVERAGE.md final tally ${decl.last} != SparkEntry.queries.size " +
        s"${SparkEntry.queries.size} — update the round list")
    // U+2192 built from the codepoint: the md is UTF-8, and a literal
    // arrow in the source is hostage to the compiler's -encoding flag
    val arrows = ("""(\d+) """ + "\u2192" + """ (\d+)\)[,.]""").r
      .findAllMatchIn(md).map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
    assert(arrows.nonEmpty, "round-list arrow tallies not found")
    arrows.zip(arrows.tail).foreach { case ((_, b), (a2, _)) =>
      assert(b == a2, s"round-list arrow chain broken: … → $b then $a2 → …")
    }
    assert(arrows.last._2 == decl.last,
      s"last arrow lands on ${arrows.last._2}, declared tally ${decl.last}")
    // the "Flow-config compatibility" paragraph states the registry's counts
    val fqcns = ("""\*\*(\d+) reference FQCNs are registry entries \((\d+) generators, """ +
      """(\d+) processors\), and (\d+) are rejected by name""").r
    val stated = fqcns.findFirstMatchIn(md.replaceAll("\\s+", " "))
      .map(_.subgroups.map(_.toInt)).getOrElse(fail("COVERAGE.md FQCN tally not found"))
    assert(stated == Seq(fqcnGenerators.size + fqcnProcessors.size, fqcnGenerators.size,
      fqcnProcessors.size, TuktuCompat.rejects.size), "COVERAGE.md FQCN tally is stale")
    // every declared query carries its DuckDB oracle (the "0 rows-only"
    // status the ledger reports)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet,
      s"queries without oracle: ${SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet}; " +
        s"stale oracles: ${SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet}")
  }

  test("each by-name rejection throws with porting guidance, not a generic unknown-name error") {
    TuktuCompat.rejects.foreach { case (fqcn, guidance) =>
      // a reject fails at parse in either node position
      Seq(s"""{"generators": [{"id": "r", "name": "$fqcn", "next": []}]}""",
          s"""{"processors": [{"id": "r", "name": "$fqcn", "next": []}]}""").foreach { flow =>
        val e = intercept[UnsupportedOperationException](Flow.parse(flow))
        assert(e.getMessage == guidance && guidance.startsWith(fqcn), fqcn)
      }
    }
  }
}
