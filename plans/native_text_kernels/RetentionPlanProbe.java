import java.util.concurrent.ConcurrentSkipListMap;

import org.apache.spark.metrics.source.CodegenMetrics;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerEvent;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart;

/**
 * Runs one registry query `passes` times in one graft.Session (4 cores,
 * noop sink) and prints per pass the wall seconds, the Janino
 * compilations and the SQL executions. Each pass's FINAL plans (the last
 * adaptive update of every execution, expression ids masked) go to
 * `<out>_pass<N>.txt`, so two passes can be diffed: a warm pass that
 * compiles has a plan that changed from the pass before.
 *
 * Run (single-file source launch, after `sbt compile`):
 *   java --add-opens ... -cp "target/scala-2.13/classes:$SPARK_HOME/jars/*" \
 *     plans/native_text_kernels/RetentionPlanProbe.java /path/to/sf0.01 6 \
 *     q_stream_retention /tmp/retention
 */
public class RetentionPlanProbe {
  public static void main(String[] args) throws Exception {
    String sf = args[0];
    int passes = Integer.parseInt(args[1]);
    String q = args[2];
    String out = args[3];
    SparkSession spark = graft.Session.builder("4").getOrCreate();
    spark.sparkContext().setLogLevel("WARN");
    graft.Session.warmTables(spark, sf);
    ConcurrentSkipListMap<Long, String> plans = new ConcurrentSkipListMap<>();
    spark.sparkContext().addSparkListener(new SparkListener() {
      @Override public void onOtherEvent(SparkListenerEvent e) {
        if (e instanceof SparkListenerSQLExecutionStart) {
          SparkListenerSQLExecutionStart s = (SparkListenerSQLExecutionStart) e;
          plans.put(s.executionId(), s.physicalPlanDescription());
        }
        if (e instanceof SparkListenerSQLAdaptiveExecutionUpdate) {
          SparkListenerSQLAdaptiveExecutionUpdate u = (SparkListenerSQLAdaptiveExecutionUpdate) e;
          plans.put(u.executionId(), u.physicalPlanDescription());
        }
      }
    });
    for (int p = 1; p <= passes; p++) {
      plans.clear();
      long c0 = CodegenMetrics.METRIC_COMPILATION_TIME().getCount();
      long t0 = System.nanoTime();
      ((org.apache.spark.sql.Dataset<?>) graft.SparkEntry.queries().apply(q)
          .apply(spark, sf)).write().format("noop").mode("overwrite").save();
      double s = (System.nanoTime() - t0) / 1e9;
      Thread.sleep(1000); // let the listener bus deliver the last updates
      System.out.printf("[probe] pass %d %s: %.2f s, %d compiles, %d executions%n", p, q, s,
          CodegenMetrics.METRIC_COMPILATION_TIME().getCount() - c0, plans.size());
      StringBuilder sb = new StringBuilder();
      int i = 0;
      for (String pl : plans.values())
        sb.append("##### execution ").append(i++).append('\n')
            .append(pl.replaceAll("#\\d+", "#N").replaceAll("\\[id=\\d+\\]", "")
                .replaceAll("RDD\\[\\d+\\]", "RDD[N]").replaceAll("plan_id=\\d+", ""))
            .append('\n');
      java.nio.file.Files.writeString(java.nio.file.Path.of(out + "_pass" + p + ".txt"), sb.toString());
    }
    spark.stop();
  }
}
