package graft

import org.scalatest.funsuite.AnyFunSuite

/** The events-family decisions are each spelled once per engine: one Spark
  * function or constant and its DuckDB SQL twin in EventOps (the
  * nearest-rank rule next to `scanState` in PrefixScan). Every ev_* query
  * and oracle, and the stream twins in StreamOps, call them; the oracle
  * gate pins their values, this pins where they are written.
  */
class EventDecisionsSpec extends AnyFunSuite {

  test("EventOps spells each events decision once per engine") {
    val events = "src/main/scala/graft/operators/EventOps.scala"
    val prefixScan = "src/main/scala/graft/operators/PrefixScan.scala"
    // (decision, owner, Spark line, SQL line)
    val decisions = Seq(
      ("per-user event order", events,
        """orderBy\(col\("ts"\)\.asc, col\("event_id"\)\.asc\)""",
        """ORDER BY (epoch_us\()?ts\)? ASC, event_id ASC"""),
      ("session gap", events,
        """1800L \* 1000000L|gapSec = 1800|GapMicros = """,
        """> (1800000000|\$SessionGapUs)"""),
      ("session marking and numbering", events,
        """withColumn\("session_seq"""", """AS session_seq\b"""),
      ("first signup", events,
        """filter\(col\("event_type"\) === "signup"\)""",
        """WHERE event_type = 'signup'"""),
      ("weekly first-seen cohort", events,
        """date_trunc\("week", min\(""", """date_trunc\('week', MIN\(ts\)\)"""),
      ("last touch", events,
        """isin\("click", "view"\)""", """event_type IN \('click', 'view'\)"""),
      ("attribution lookback", events,
        """24L \* 3600L \* 1000000L""", """> \$AttributionLookbackUs"""),
      ("purchase share", events,
        """n_purchases \* 1000000 DIV sum\(n_purchases\)""",
        """SUM\(COUNT\(\*\)\) OVER \(\)"""),
      ("event value sum", events,
        """sum\((c|col\("value"\))\.cast\("decimal\(12,2\)"\)\)""",
        """SUM\(CAST\(value AS DECIMAL\(12,2\)\)\)"""),
      ("event value in cents", events,
        """col\("value"\)\.cast\("decimal\(12,2\)"\) \* 100""",
        """CAST\(value AS DECIMAL\(12,2\)\) \* 100"""),
      ("nearest rank", prefixScan, """\+ 99\) DIV 100""", """\+ 99\) // 100"""))
    decisions.foreach { case (name, owner, spark, sql) =>
      SparkSpec.assertSpelled(s"$name (Spark)", owner, spark, 1)
      SparkSpec.assertSpelled(s"$name (SQL)", owner, sql, 1)
    }
  }
}
