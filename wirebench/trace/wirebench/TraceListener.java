package wirebench;

import java.io.BufferedWriter;
import java.io.FileWriter;
import java.io.IOException;
import java.util.Collections;
import java.util.HashMap;
import java.util.HashSet;
import java.util.Map;
import java.util.Set;
import java.util.WeakHashMap;

import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageSubmitted;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.sql.catalyst.QueryPlanningTracker;
import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.util.QueryExecutionListener;

/**
 * Records Spark jobs and query executions of a server process as lines of
 * a TSV file, one line per finished job or execution, flushed as written.
 * Registered from outside the program through system properties:
 * -Dspark.extraListeners=wirebench.TraceListener (jobs, stages, tasks) and
 * -Dspark.sql.queryExecutionListeners=wirebench.TraceListener (Catalyst
 * phases); -Dwirebench.trace.out names the file. Both instances share the
 * writer. Times are wall-clock epoch milliseconds.
 *
 * Line formats:
 *   J jobId startMs endMs stagesRun stagesSkipped tasks taskCpuNs inputBytes shuffleWriteBytes spillBytes jobGroup
 *   Q callbackMs reused parseStart parseEnd analyzeStart analyzeEnd optimizeStart optimizeEnd planStart planEnd
 * A phase that did not run is written as -1 -1.
 */
public final class TraceListener extends SparkListener implements QueryExecutionListener {
  private static BufferedWriter out;
  private static final Set<QueryExecution> seen =
      Collections.newSetFromMap(new WeakHashMap<>());
  private static final Map<Integer, long[]> jobs = new HashMap<>();
  private static final Map<Integer, Integer> stageJob = new HashMap<>();
  private static final Set<Integer> submitted = new HashSet<>();
  private static final Map<Integer, Integer> jobStages = new HashMap<>();
  private static final Map<Integer, String> jobGroups = new HashMap<>();

  public TraceListener() {
    synchronized (TraceListener.class) {
      if (out == null) {
        try {
          out = new BufferedWriter(new FileWriter(System.getProperty("wirebench.trace.out")));
        } catch (IOException e) {
          throw new IllegalStateException(e);
        }
      }
    }
  }

  private static void write(String line) {
    synchronized (TraceListener.class) {
      try {
        out.write(line);
        out.write('\n');
        out.flush();
      } catch (IOException e) {
        System.err.println("[wirebench] trace write failed: " + e);
      }
    }
  }

  // ---- jobs, stages and tasks ------------------------------------------

  @Override
  public void onJobStart(SparkListenerJobStart e) {
    synchronized (TraceListener.class) {
      // start, stagesRun, tasks, cpuNs, inputBytes, shuffleWriteBytes, spillBytes
      jobs.put(e.jobId(), new long[] {e.time(), 0, 0, 0, 0, 0, 0});
      scala.collection.Iterator<Object> it = e.stageIds().iterator();
      int n = 0;
      while (it.hasNext()) {
        stageJob.put((Integer) it.next(), e.jobId());
        n++;
      }
      jobStages.put(e.jobId(), n);
      String group = e.properties() == null ? null : e.properties().getProperty("spark.jobGroup.id");
      jobGroups.put(e.jobId(), group == null ? "-" : group);
    }
  }

  @Override
  public void onStageSubmitted(SparkListenerStageSubmitted e) {
    synchronized (TraceListener.class) {
      int stage = e.stageInfo().stageId();
      Integer job = stageJob.get(stage);
      if (job != null && submitted.add(stage)) jobs.get(job)[1]++;
    }
  }

  @Override
  public void onTaskEnd(SparkListenerTaskEnd e) {
    TaskMetrics m = e.taskMetrics();
    synchronized (TraceListener.class) {
      Integer job = stageJob.get(e.stageId());
      if (job == null || m == null) return;
      long[] j = jobs.get(job);
      j[2]++;
      j[3] += m.executorCpuTime();
      j[4] += m.inputMetrics().bytesRead();
      j[5] += m.shuffleWriteMetrics().bytesWritten();
      j[6] += m.memoryBytesSpilled() + m.diskBytesSpilled();
    }
  }

  @Override
  public void onJobEnd(SparkListenerJobEnd e) {
    long[] j;
    int total;
    String group;
    synchronized (TraceListener.class) {
      group = jobGroups.remove(e.jobId());
      j = jobs.remove(e.jobId());
      Integer n = jobStages.remove(e.jobId());
      total = n == null ? 0 : n;
      stageJob.values().removeIf(v -> v == e.jobId());
    }
    if (j == null) return;
    write("J\t" + e.jobId() + "\t" + j[0] + "\t" + e.time() + "\t" + j[1] + "\t"
        + Math.max(0, total - j[1]) + "\t" + j[2] + "\t" + j[3] + "\t" + j[4] + "\t"
        + j[5] + "\t" + j[6] + "\t" + group);
  }

  // ---- query executions --------------------------------------------------

  private static String phase(QueryPlanningTracker t, String name) {
    scala.Option<?> p = t.phases().get(name);
    if (p.isEmpty()) return "-1\t-1";
    QueryPlanningTracker.PhaseSummary s = (QueryPlanningTracker.PhaseSummary) p.get();
    return s.startTimeMs() + "\t" + s.endTimeMs();
  }

  private static void query(QueryExecution qe) {
    boolean reused;
    synchronized (TraceListener.class) {
      reused = !seen.add(qe);
    }
    QueryPlanningTracker t = qe.tracker();
    write("Q\t" + System.currentTimeMillis() + "\t" + (reused ? 1 : 0) + "\t"
        + phase(t, QueryPlanningTracker.PARSING()) + "\t"
        + phase(t, QueryPlanningTracker.ANALYSIS()) + "\t"
        + phase(t, QueryPlanningTracker.OPTIMIZATION()) + "\t"
        + phase(t, QueryPlanningTracker.PLANNING()));
  }

  @Override
  public void onSuccess(String funcName, QueryExecution qe, long durationNs) {
    query(qe);
  }

  @Override
  public void onFailure(String funcName, QueryExecution qe, Exception exception) {
    query(qe);
  }
}
