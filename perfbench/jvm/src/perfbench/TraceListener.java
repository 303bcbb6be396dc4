package perfbench;

import java.util.ArrayList;
import java.util.HashMap;
import java.util.List;
import java.util.Map;
import java.util.TreeMap;

import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerApplicationEnd;
import org.apache.spark.scheduler.SparkListenerApplicationStart;
import org.apache.spark.scheduler.SparkListenerEvent;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.scheduler.StageInfo;
import org.apache.spark.scheduler.TaskInfo;
import org.apache.spark.sql.execution.SparkPlanInfo;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart;

/**
 * Engine-side spans: application, SQL execution, job and stage, with task
 * metrics summed per stage. Registered only through
 * {@code -Dspark.extraListeners=perfbench.TraceListener}.
 */
public final class TraceListener extends SparkListener {
  /** Per-stage task sums, in the order of {@link #FIELDS}. */
  private static final String[] FIELDS = {
    "tasks", "empty_tasks", "run_ms", "cpu_ns", "deser_ms", "sched_delay_ms",
    "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms",
    "spill_bytes", "input_bytes", "output_bytes", "output_records", "peak_exec_mem"};
  private final Map<String, long[]> stageSums = new HashMap<>();
  private final Map<Long, Map<String, Object>> execs = new HashMap<>();
  private final Map<Integer, Map<String, Object>> jobs = new HashMap<>();

  @Override
  public void onApplicationStart(SparkListenerApplicationStart e) {
    Map<String, Object> r = Trace.record("app_start");
    r.put("t", e.time());
    Trace.add(r);
  }

  @Override
  public void onApplicationEnd(SparkListenerApplicationEnd e) {
    Map<String, Object> r = Trace.record("app_end");
    r.put("t", e.time());
    r.put("jvm", Trace.jvm());
    Trace.add(r);
    Trace.flush();
  }

  @Override
  public synchronized void onJobStart(SparkListenerJobStart e) {
    List<Object> stages = new ArrayList<>();
    scala.collection.Iterator<Object> it = e.stageIds().iterator();
    while (it.hasNext()) stages.add(it.next());
    String exec = e.properties() == null ? null
        : e.properties().getProperty("spark.sql.execution.id");
    Map<String, Object> j = Trace.record("job");
    j.put("id", e.jobId());
    j.put("start", e.time());
    j.put("exec", exec == null ? -1 : Long.parseLong(exec));
    j.put("stages", stages);
    jobs.put(e.jobId(), j);
  }

  @Override
  public synchronized void onJobEnd(SparkListenerJobEnd e) {
    Map<String, Object> j = jobs.remove(e.jobId());
    if (j != null) {
      j.put("end", e.time());
      Trace.add(j);
    }
  }

  @Override
  public synchronized void onTaskEnd(SparkListenerTaskEnd e) {
    long[] s = stageSums.computeIfAbsent(e.stageId() + "." + e.stageAttemptId(),
        k -> new long[FIELDS.length]);
    TaskInfo info = e.taskInfo();
    TaskMetrics m = e.taskMetrics();
    s[0] += 1;
    if (m == null) return;
    long records = m.inputMetrics().recordsRead() + m.shuffleReadMetrics().recordsRead();
    if (records == 0) s[1] += 1;
    s[2] += m.executorRunTime();
    s[3] += m.executorCpuTime() + m.executorDeserializeCpuTime();
    s[4] += m.executorDeserializeTime();
    long gettingResult = info.gettingResultTime() > 0
        ? info.finishTime() - info.gettingResultTime() : 0;
    s[5] += Math.max(0, info.duration() - m.executorRunTime() - m.executorDeserializeTime()
        - m.resultSerializationTime() - gettingResult);
    s[6] += m.jvmGCTime();
    s[7] += m.shuffleWriteMetrics().bytesWritten();
    s[8] += m.shuffleReadMetrics().totalBytesRead();
    s[9] += m.shuffleReadMetrics().fetchWaitTime();
    s[10] += m.memoryBytesSpilled() + m.diskBytesSpilled();
    s[11] += m.inputMetrics().bytesRead();
    s[12] += m.outputMetrics().bytesWritten();
    s[13] += m.outputMetrics().recordsWritten();
    s[14] = Math.max(s[14], m.peakExecutionMemory());
  }

  @Override
  public synchronized void onStageCompleted(SparkListenerStageCompleted e) {
    StageInfo st = e.stageInfo();
    long[] s = stageSums.remove(st.stageId() + "." + st.attemptNumber());
    Map<String, Long> sums = new TreeMap<>();
    for (int i = 0; i < FIELDS.length; i++) sums.put(FIELDS[i], s == null ? 0L : s[i]);
    long submit = st.submissionTime().isDefined() ? (Long) st.submissionTime().get() : -1;
    long done = st.completionTime().isDefined() ? (Long) st.completionTime().get() : -1;
    Map<String, Object> r = Trace.record("stage");
    r.put("id", st.stageId());
    r.put("attempt", st.attemptNumber());
    r.put("start", submit);
    r.put("end", done);
    r.put("sums", sums);
    Trace.add(r);
  }

  @Override
  public synchronized void onOtherEvent(SparkListenerEvent event) {
    if (event instanceof SparkListenerSQLExecutionStart) {
      SparkListenerSQLExecutionStart e = (SparkListenerSQLExecutionStart) event;
      long root = e.rootExecutionId().isDefined()
          ? (Long) e.rootExecutionId().get() : e.executionId();
      StringBuilder nodes = new StringBuilder();
      describe(e.sparkPlanInfo(), nodes);
      Map<String, Object> x = Trace.record("exec");
      x.put("id", e.executionId());
      x.put("root", root);
      x.put("start", e.time());
      x.put("nodes", nodes.toString());
      execs.put(e.executionId(), x);
    } else if (event instanceof SparkListenerSQLExecutionEnd) {
      SparkListenerSQLExecutionEnd e = (SparkListenerSQLExecutionEnd) event;
      Map<String, Object> x = execs.remove(e.executionId());
      if (x != null) {
        x.put("end", e.time());
        x.put("ok", e.errorMessage().isDefined() ? 0 : 1);
        Trace.add(x);
      }
    }
  }

  /** One line per plan node: its name, and for scans and writes the
   * node's one-line description, which names the file format. */
  private static void describe(SparkPlanInfo p, StringBuilder out) {
    String name = p.nodeName();
    out.append(name);
    if (name.contains("Scan") || name.contains("Insert") || name.contains("Write")
        || name.startsWith("Execute")) {
      String s = p.simpleString();
      out.append(" | ").append(s, 0, Math.min(s.length(), 1000));
    }
    out.append('\n');
    scala.collection.Iterator<SparkPlanInfo> it = p.children().iterator();
    while (it.hasNext()) describe(it.next(), out);
  }
}
