import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerEvent;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart;

/**
 * The formatted plan of every SQL execution that two runs of each given
 * registry query start, in order (table writes, merges, DML passes,
 * stream micro-batches and the final noop write), as Spark's SQL
 * listener event carries it, in one session built by graft.Session at
 * 4 cores. Run it from two checkouts and diff the outputs after masking
 * expression ids, paths and call sites (README.md in this directory).
 *
 * Run (single-file source launch, after `sbt compile`):
 *   java --add-opens ... -cp "target/scala-2.13/classes:$SPARK_HOME/jars/*" \
 *     plans/layout_module/LayoutPlanDump.java /path/to/sf0.01 q_a,q_b > out.txt
 */
public class LayoutPlanDump {
  public static void main(String[] args) throws Exception {
    String sf = args[0];
    SparkSession spark = graft.Session.builder("4").getOrCreate();
    spark.sparkContext().setLogLevel("WARN");
    graft.Session.warmTables(spark, sf);
    StringBuilder out = new StringBuilder();
    spark.sparkContext().addSparkListener(new SparkListener() {
      @Override public void onOtherEvent(SparkListenerEvent e) {
        if (e instanceof SparkListenerSQLExecutionStart) {
          SparkListenerSQLExecutionStart st = (SparkListenerSQLExecutionStart) e;
          synchronized (out) {
            out.append("==== execution: ").append(st.description()).append('\n')
                .append(st.physicalPlanDescription()).append('\n');
          }
        }
      }
    });
    for (String q : args[1].split(",")) {
      for (int run = 1; run <= 2; run++) {
        ((org.apache.spark.sql.Dataset<?>) graft.SparkEntry.queries().apply(q)
            .apply(spark, sf)).write().format("noop").mode("overwrite").save();
        Thread.sleep(1000); // the listener bus delivers executions asynchronously
        synchronized (out) {
          System.out.print("######## " + q + " run " + run + "\n" + out);
          out.setLength(0);
        }
      }
    }
    spark.stop();
  }
}
