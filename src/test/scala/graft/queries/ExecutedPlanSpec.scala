package graft.queries

import graft.SparkSpec
import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Proves the ADVICE-r11 (high) fix end-to-end: the plan a
  * `DataFrameWriter` action ACTUALLY executes for q301 is the audited
  * zero-Exchange/zero-Sort bucket-aligned merge join.
  *
  * The writer always builds a fresh `QueryExecution` from the logical
  * plan, so the in-query assert over the memoized `executedPlan` only
  * covers the executed plan if re-planning reproduces it. Under the old
  * set/restore conf window it did not (the window had closed; default
  * broadcast threshold re-planned a BroadcastHashJoin). Under ConfScope
  * the returned DataFrame carries a session CLONE whose forcing confs are
  * permanent — this spec registers a QueryExecutionListener on that clone,
  * runs the same noop write Bench runs, and asserts the shape of the plan
  * the action reported, not the plan the query fn memoized.
  */
class ExecutedPlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q301's noop-write executes the audited zero-Exchange/zero-Sort merge join") {
    val df = graft.SparkEntry.queries("q301_bucketed_fact_join")(spark, sf)
    // The conf scope must be a clone, not the shared session (and the
    // shared session must keep its stock broadcast threshold).
    assert(!(df.sparkSession eq spark), "q301 must build on a session clone")
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1")

    @volatile var captured: Option[QueryExecution] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured = Some(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    df.sparkSession.listenerManager.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      // listener events ride the async listener bus: drain it
      ListenerBusBridge.drain(spark.sparkContext)
      val qe = captured.getOrElse(fail("writer QueryExecution never reported"))
      val plan = qe.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"executed plan lost the merge join:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"), s"executed plan fell back to BHJ:\n$plan")
      assert(!plan.contains("Exchange"), s"executed plan planned a shuffle:\n$plan")
      assert("\\bSort\\b".r.findFirstIn(plan).isEmpty, s"executed plan planned a Sort:\n$plan")
    } finally df.sparkSession.listenerManager.unregister(listener)
  }

  test("q302's noop-write executes a bucket-pruned scan") {
    val df = graft.SparkEntry.queries("q302_bucket_pruning")(spark, sf)
    @volatile var captured: Option[QueryExecution] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured = Some(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    df.sparkSession.listenerManager.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      ListenerBusBridge.drain(spark.sparkContext)
      val qe = captured.getOrElse(fail("writer QueryExecution never reported"))
      val plan = qe.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of 8".r.findFirstMatchIn(plan)
      assert(sel.exists(_.group(1).toInt <= 2),
        s"executed plan did not bucket-prune:\n$plan")
    } finally df.sparkSession.listenerManager.unregister(listener)
  }
}
