package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical SURVEY.md §2 ↔ registry sync gate (VERDICT r11 #1).
  *
  * Parses the backticked operator names of every `- [x]` / `- [~]`
  * checklist bullet inside §2 and set-compares them against
  * `SparkEntry.queries` in BOTH directions, so checklist drift fails
  * `sbt test` instead of waiting for a judge. The streaming-twins `[~]`
  * bullet intentionally has no backticked name right after the marker
  * (its 15 operators are spec-gated, not registry entries) and is
  * excluded by the parse shape.
  */
class SurveySyncSpec extends AnyFunSuite {

  private def section2Names: Set[String] = {
    val text = {
      val src = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
      try src.mkString finally src.close()
    }
    val start = text.indexOf("## §2")
    assert(start >= 0, "SURVEY.md has no '## §2' heading")
    val rest = text.substring(start + 5)
    val end = rest.indexOf("\n## §")
    val sec = if (end >= 0) rest.substring(0, end) else rest
    val bullet = """(?m)^- \[[x~]\] `([A-Za-z0-9_]+)`""".r
    bullet.findAllMatchIn(sec).map(_.group(1)).toSet
  }

  test("SURVEY §2 checklist names == SparkEntry.queries keys (both directions)") {
    val survey = section2Names
    val registry = SparkEntry.queries.keySet
    val unlisted = registry -- survey
    val phantom = survey -- registry
    assert(unlisted.isEmpty,
      s"registered but missing from SURVEY §2: ${unlisted.toSeq.sorted.mkString(", ")}")
    assert(phantom.isEmpty,
      s"listed in SURVEY §2 but not registered: ${phantom.toSeq.sorted.mkString(", ")}")
  }

  test("SURVEY §2 checklist has no duplicate operator names") {
    val text = {
      val src = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
      try src.mkString finally src.close()
    }
    val start = text.indexOf("## §2")
    val rest = text.substring(start + 5)
    val end = rest.indexOf("\n## §")
    val sec = if (end >= 0) rest.substring(0, end) else rest
    val bullet = """(?m)^- \[[x~]\] `([A-Za-z0-9_]+)`""".r
    val names = bullet.findAllMatchIn(sec).map(_.group(1)).toSeq
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate SURVEY §2 entries: ${dups.mkString(", ")}")
  }

  /** Registering a query without wiring its oracle silently downgrades the
    * driver's gate to a rows-only check (caught live in r15: ct_read_load
    * shipped with a written-but-unregistered oracle and the full-gate OK
    * count just looked one lower). Every record must carry an oracle
    * unless it is on the DECLARED rows-only list.
    */
  test("every registered query has an oracle unless declared rows-only") {
    val rowsOnly = Set("q_approx_distinct") // approximate by design (§2)
    val without = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name)
    assert(without.toSet == rowsOnly,
      s"records without an oracle: ${without.sorted.mkString(", ")}; " +
        s"declared rows-only: ${rowsOnly.mkString(", ")}")
  }

  /** `SparkEntry.queries` is a map over the concatenated records of all
    * operator objects, so two records with one name would silently keep
    * one builder and one oracle.
    */
  test("record names are unique across all operator objects") {
    val dups = SparkEntry.registry.groupBy(_.name).filter(_._2.size > 1).keys
    assert(dups.isEmpty,
      s"names registered more than once: ${dups.toSeq.sorted.mkString(", ")}")
  }

  /** ADVICE r16 #2: `SparkEntry.materializeCtes` is a regex rewrite keyed
    * on the exact `name AS (SELECT|VALUES` spacing/case. An oracle written
    * with lowercase `as`, a newline before `(`, or extra whitespace would
    * silently stay INLINED — re-opening the exponential-CTE perf cliff
    * that emptied three rounds of driver artifacts. This lint counts CTE
    * heads with a deliberately TOLERANT matcher (case-insensitive,
    * any-whitespace) and asserts the strict rewriter materialized every
    * one of them.
    */
  test("every CTE head in every oracle is materialized by the rewriter") {
    val tolerantHead =
      "(?is)([A-Za-z_][A-Za-z0-9_]*)\\s+AS\\s+(?:MATERIALIZED\\s*)?\\(\\s*(?:SELECT|VALUES)".r
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      val heads = tolerantHead.findAllMatchIn(sql).size
      val materialized = "AS MATERIALIZED \\(".r.findAllMatchIn(sql).size
      if (heads != materialized)
        Some(s"$name: $heads CTE heads but $materialized materialized")
      else None
    }
    assert(bad.isEmpty,
      s"oracles with un-materialized CTE heads (fix the head's spacing/case " +
        s"or generalize materializeCtes):\n${bad.mkString("\n")}")
  }

  /** Materialization turns CTE-alias shadowing (legal when inlined) into
    * DuckDB binder errors that only surface at gate time. Duplicates
    * across SIBLING nested scopes are fine (the spliced sub-oracle
    * pattern in sim_recall_report reuses `cent`/`qv`/… in independent
    * derived tables); the hazard is (a) two top-level CTEs with the same
    * name, or (b) a nested CTE re-binding a top-level name of the same
    * statement. Paren depth (outside string literals) distinguishes the
    * two.
    */
  test("no oracle shadows a top-level CTE alias") {
    val tolerantHead =
      "(?is)([A-Za-z_][A-Za-z0-9_]*)\\s+AS\\s+(?:MATERIALIZED\\s*)?\\(\\s*(?:SELECT|VALUES)".r
    def depthAt(sql: String): Int => Int = {
      val depths = new Array[Int](sql.length + 1)
      var d = 0; var inStr = false; var i = 0
      while (i < sql.length) {
        depths(i) = d
        sql.charAt(i) match {
          case '\'' => inStr = !inStr
          case '(' if !inStr => d += 1
          case ')' if !inStr => d -= 1
          case _ => ()
        }
        i += 1
      }
      depths(sql.length) = d
      pos => depths(pos)
    }
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      val depth = depthAt(sql)
      val heads = tolerantHead.findAllMatchIn(sql)
        .map(m => (m.group(1).toLowerCase, depth(m.start))).toSeq
      val top = heads.filter(_._2 == 0).map(_._1)
      val topDups = top.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted
      val shadowed = heads.filter(h => h._2 > 0 && top.contains(h._1))
        .map(_._1).distinct.sorted
      val msgs =
        (if (topDups.nonEmpty)
           Seq(s"$name: duplicate top-level CTEs ${topDups.mkString(", ")}")
         else Nil) ++
          (if (shadowed.nonEmpty)
             Seq(s"$name: nested CTEs shadow top-level ${shadowed.mkString(", ")}")
           else Nil)
      msgs
    }
    assert(bad.isEmpty, s"shadowed CTE aliases:\n${bad.mkString("\n")}")
  }

  /** VERDICT r16 #5: the r12/r14/r15 empty driver artifacts were an
    * ORACLE-BUDGET overrun growing back silently as the registry grew.
    * The budget is now a standing gate: ORACLE_TIMES.json is the
    * committed profile (`tools/check.py --times` over the Verify dump),
    * and this test fails if the artifact is missing, trails the registry,
    * contains an errored oracle, or the serial sf0.01 compare total
    * exceeds 120 s (r16 measured 33.6 s — ~4× headroom for growth; the
    * driver's own budget sits well above).
    */
  test("committed oracle-time profile is current and inside the 120s budget") {
    val text = PlanShapeSpec.artifact("ORACLE_TIMES")
    val total = """"total_sec": ([0-9.]+)""".r
      .findFirstMatchIn(text).map(_.group(1).toDouble)
    assert(total.nonEmpty && total.get <= 120.0,
      s"ORACLE_TIMES.json: serial oracle compare ${total.orNull}s exceeds " +
        "the 120s budget — the r12/r14/r15 failure mode is growing back")
    val timed = """"([a-z0-9_]+)": (-?[0-9.]+)""".r.findAllMatchIn(text)
      .map(m => (m.group(1), m.group(2).toDouble)).toMap
      .removedAll(Seq("total_sec", "n"))
    val errored = timed.filter(_._2 < 0).keys.toSeq.sorted
    assert(errored.isEmpty,
      s"ORACLE_TIMES.json: oracles errored in the profile: " +
        errored.mkString(", "))
    val missing = SparkEntry.oracleSql.keySet -- timed.keySet
    assert(missing.isEmpty,
      s"ORACLE_TIMES.json trails the registry by ${missing.size}: " +
        missing.toSeq.sorted.take(5).mkString(", ") +
        " — regenerate after the last oracle lands")
  }
}
