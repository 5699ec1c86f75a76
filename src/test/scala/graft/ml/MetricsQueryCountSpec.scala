package graft.ml

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Pins how many eager queries one AUC or AP call costs: on a scored frame
  * of ~2,000 distinct scores the sweep runs one probe aggregate and one
  * collect of its distinct-score frame, then sweeps it on the driver,
  * instead of the distributed sweep's probe, totals collect and final
  * aggregate. */
class MetricsQueryCountSpec extends AnyFunSuite {

  test("rocAuc and averagePrecision each run at most 2 actions on ~2,000 distinct scores") {
    // Count on a PRIVATE cloned session: a listener on the shared TestSpark
    // session would also count other suites' executions (Ep1PipelineSpec).
    val s2 = graft.Tables.prep(TestSpark.spark.newSession())
    // 2,000 distinct scores, two rows each; positives grow likelier with score
    val rows = (0 until 4000).map { i =>
      val y = if ((i * 7919) % 2000 < i % 2000) 1.0 else 0.0
      (y, y, (i % 2000) / 2000.0)
    }
    val scored = s2.createDataFrame(rows).toDF("label", "prediction", "score").cache()
    scored.count()

    // The listener bus is async but ordered: once a sentinel action's own
    // event arrives, every earlier action's event has been counted.
    val actions = new AtomicInteger(0)
    @volatile var sentinel: QueryExecution = null
    @volatile var sentinelSeen = false
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe eq sentinel) sentinelSeen = true else actions.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def drain(): Unit = {
      val df = s2.range(1).toDF()
      sentinelSeen = false
      sentinel = df.queryExecution
      df.collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen, "sentinel action never reached the listener")
    }
    def countActions(metric: => Double): (Double, Int) = {
      drain()
      actions.set(0)
      val v = metric
      drain()
      (v, actions.get())
    }
    s2.listenerManager.register(listener)
    try {
      val (auc, aucActions) = countActions(Metrics.rocAuc(scored))
      val (ap, apActions) = countActions(Metrics.averagePrecision(scored))
      assert(auc > 0.5 && auc <= 1.0 && ap > 0.0 && ap <= 1.0, s"auc $auc ap $ap")
      assert(aucActions <= 2, s"rocAuc ran $aucActions actions, want ≤2")
      assert(apActions <= 2, s"averagePrecision ran $apActions actions, want ≤2")
    } finally {
      s2.listenerManager.unregister(listener)
      scored.unpersist()
    }
  }
}
