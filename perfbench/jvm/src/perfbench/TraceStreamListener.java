package perfbench;

import java.util.Map;

import org.apache.spark.sql.streaming.StateOperatorProgress;
import org.apache.spark.sql.streaming.StreamingQueryListener;
import org.apache.spark.sql.streaming.StreamingQueryProgress;

/**
 * Micro-batch spans of streaming queries: one record per progress event,
 * with its phase durations and the rows held in state. Registered only
 * through {@code -Dspark.sql.streaming.streamingQueryListeners}.
 */
public final class TraceStreamListener extends StreamingQueryListener {
  @Override
  public void onQueryStarted(QueryStartedEvent event) {}

  @Override
  public void onQueryProgress(QueryProgressEvent event) {
    StreamingQueryProgress p = event.progress();
    long stateRows = 0;
    for (StateOperatorProgress s : p.stateOperators()) stateRows += s.numRowsTotal();
    Map<String, Object> r = Trace.record("batch");
    r.put("query", p.runId().toString());
    r.put("t", System.currentTimeMillis());
    r.put("batch", p.batchId());
    r.put("input_rows", p.numInputRows());
    r.put("state_rows", stateRows);
    r.put("durations_ms", p.durationMs());
    Trace.add(r);
  }

  @Override
  public void onQueryTerminated(QueryTerminatedEvent event) {}
}
