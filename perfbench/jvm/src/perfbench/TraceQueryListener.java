package perfbench;

import java.util.Map;
import java.util.TreeMap;

import org.apache.spark.sql.catalyst.QueryPlanningTracker;
import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.util.QueryExecutionListener;

/**
 * Driver planning spans: analysis, optimization and planning time of each
 * finished action, from its {@code QueryExecution.tracker}. Registered only
 * through {@code -Dspark.sql.queryExecutionListeners}.
 */
public final class TraceQueryListener implements QueryExecutionListener {
  @Override
  public void onSuccess(String funcName, QueryExecution qe, long durationNs) {
    record(funcName, qe, durationNs, true);
  }

  @Override
  public void onFailure(String funcName, QueryExecution qe, Exception exception) {
    record(funcName, qe, 0, false);
  }

  private static void record(String funcName, QueryExecution qe, long durationNs, boolean ok) {
    Map<String, Long> phases = new TreeMap<>();
    scala.collection.Iterator<scala.Tuple2<String, QueryPlanningTracker.PhaseSummary>> it =
        qe.tracker().phases().iterator();
    while (it.hasNext()) {
      scala.Tuple2<String, QueryPlanningTracker.PhaseSummary> p = it.next();
      phases.put(p._1(), p._2().durationMs());
    }
    Map<String, Object> r = Trace.record("qe");
    r.put("func", funcName);
    r.put("t", System.currentTimeMillis());
    r.put("dur_ns", durationNs);
    r.put("ok", ok ? 1 : 0);
    r.put("phases_ms", phases);
    Trace.add(r);
  }
}
