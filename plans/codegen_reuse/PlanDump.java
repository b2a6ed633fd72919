import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerEvent;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart;

/**
 * The formatted plan of every SQL execution one warm run of a registry
 * query starts, in order (for q_stream_changefeed: its table writes, each
 * merge's delta pass, each change-feed micro-batch and the final noop
 * write), as Spark's SQL listener event carries it. The query runs once
 * untimed first, in one session built by graft.Session at 4 cores.
 *
 * Run (single-file source launch, after `sbt compile`):
 *   java --add-opens ... -cp "target/scala-2.13/classes:$SPARK_HOME/jars/*" \
 *     plans/codegen_reuse/PlanDump.java /path/to/sf0.01 q_stream_changefeed
 */
public class PlanDump {
  public static void main(String[] args) throws Exception {
    String sf = args[0], q = args[1];
    SparkSession spark = graft.Session.builder("4").getOrCreate();
    spark.sparkContext().setLogLevel("WARN");
    graft.Session.warmTables(spark, sf);
    run(spark, sf, q);
    int[] n = {0};
    spark.sparkContext().addSparkListener(new SparkListener() {
      @Override public void onOtherEvent(SparkListenerEvent e) {
        if (e instanceof SparkListenerSQLExecutionStart) {
          SparkListenerSQLExecutionStart st = (SparkListenerSQLExecutionStart) e;
          System.out.println("==== execution " + (++n[0]) + ": " + st.description()
              + "\n" + st.physicalPlanDescription());
        }
      }
    });
    run(spark, sf, q);
    Thread.sleep(1000); // the listener bus delivers executions asynchronously
    spark.stop();
  }

  private static void run(SparkSession spark, String sf, String q) {
    ((org.apache.spark.sql.Dataset<?>) graft.SparkEntry.queries().apply(q)
        .apply(spark, sf)).write().format("noop").mode("overwrite").save();
  }
}
