package graft

import graft.queries.{Gate, Q}
import graft.tools.PlanAudit

/** The asserting half of the plan audit: recomputes every registry
  * query's plan-shape invariant record and diffs it against the
  * checked-in golden `docs/plan_invariants.tsv`, so a plan regression —
  * an extra shuffle, a lost PushedFilters, a broadcast→SMJ flip, a
  * widened ReadSchema, a CartesianProduct sneaking in — fails `sbt test`
  * exactly the way a wrong answer fails CORRECTNESS.
  *
  * Batch queries are audited from their formatted explain; streaming
  * gates are audited from the EXECUTED last micro-batch plan of every
  * StreamingQuery the gate starts (captured through StreamGate, read
  * via lastExecution after the gate returns) — state-operator count,
  * sink output mode, exchange/join shape.
  *
  * After an INTENTIONAL plan change, regenerate with
  * `sbt -batch "runMain graft.tools.PlanAudit"` and review the tsv diff —
  * the diff IS the plan-review artifact.
  */
class PlanInvariantsSpec extends SparkSpec {

  private lazy val golden: Map[String, PlanAudit.PlanRecord] =
    PlanAudit.parseTsv(java.nio.file.Files.readString(
      java.nio.file.Paths.get("docs/plan_invariants.tsv")))

  /** Every registry query run once under stream capture, in name order. */
  private lazy val audits: Seq[(Q, PlanAudit.Audit)] =
    SparkEntry.registry.sortBy(_.name)
      .map(q => q -> PlanAudit.audit(spark, q, PlanAudit.invariantSf))

  private lazy val current: Map[String, PlanAudit.PlanRecord] =
    audits.map { case (q, a) => q.name -> a.record }.toMap

  private def allNames: Seq[String] = audits.map(_._1.name)

  test("every query's declared kind matches what it runs: a Gate starts streams, nothing else does") {
    val wrong = audits.flatMap { case (q, a) => PlanAudit.kindError(q, a.streams) }
    assert(wrong.isEmpty, "Q.kind declarations disagree with the queries:\n" + wrong.mkString("\n"))
  }

  test("every registry query (batch AND streaming) has a golden plan-invariant record") {
    val missing = allNames.filterNot(golden.contains)
    assert(missing.isEmpty,
      s"queries missing from docs/plan_invariants.tsv (regenerate with " +
        s"`sbt \"runMain graft.tools.PlanAudit\"`): ${missing.mkString(", ")}")
    val stale = golden.keys.filterNot(allNames.contains).toSeq.sorted
    assert(stale.isEmpty, s"golden records for queries no longer in the registry: ${stale.mkString(", ")}")
  }

  test("plan-shape records match the golden file (no silent plan regressions)") {
    val diffs = allNames.flatMap { n =>
      (golden.get(n), current.get(n)) match {
        case (Some(g), Some(c)) if g != c =>
          Some(s"$n:\n  golden : ${g.tsvLine}\n  current: ${c.tsvLine}")
        case _ => None
      }
    }
    assert(diffs.isEmpty,
      s"${diffs.size} plan(s) drifted from docs/plan_invariants.tsv — if " +
        "intentional, regenerate via `sbt \"runMain graft.tools.PlanAudit\"` " +
        "and review the diff:\n" + diffs.mkString("\n"))
  }

  test("no CartesianProduct anywhere; BNLJ only on documented tiny sides") {
    val all = current.values
    val cart = all.filter(_.cartesian > 0).map(_.name).toSeq.sorted
    assert(cart.isEmpty, s"CartesianProduct in: ${cart.mkString(", ")}")
    val badBnlj = all
      .filter(r => r.bnlj > 0 && !PlanAudit.bnljAllowed(r.name)).map(_.name).toSeq.sorted
    assert(badBnlj.isEmpty,
      s"BroadcastNestedLoopJoin outside the documented tiny-side allowlist " +
        s"(PlanAudit.bnljAllowed): ${badBnlj.mkString(", ")}")
  }

  test("streaming gates carry executed-plan evidence: a real sink mode, state where claimed") {
    // every streaming record must come from an actual micro-batch (mode
    // is the IncrementalExecution's, never the "batch" placeholder), and
    // each gate holds a state operator exactly when it is declared
    // Gate(stateful = true). The stateless gates are the stream-static
    // joins (ANN probe, range join), the per-row tagger, q256's observe
    // pass-through, and the foreachBatch sinks — q304/q311/q314/q320 keep their per-key state
    // in a batchId-versioned parquet table their foreachBatch maintains,
    // off the store's hash partitioning, where q311's erasure anti-join
    // can purge it per request batch and q314 rewrites only touched
    // range buckets
    audits.foreach {
      case (Q(name, _, _, Gate(stateful)), a) =>
        val r = a.record
        assert(r.mode != "batch", s"$name: no executed micro-batch plan captured")
        if (stateful)
          assert(r.stateOps > 0, s"$name: claimed stateful but no state operator in the executed plan")
        else
          assert(r.stateOps == 0, s"$name: expected stateless, got ${r.stateOps} state ops")
      case _ =>
    }
  }
}
