import java.util.concurrent.atomic.AtomicInteger;

import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator;
import org.apache.spark.metrics.source.CodegenMetrics;

/**
 * Codegen churn per warm pass: runs the given registry queries one after
 * another, `passes` times, in one session built by graft.Session at 4
 * cores (noop sink, as perfbench's lakehouse pass), and prints per query
 * and pass the wall seconds, the Janino compilations
 * (CodegenMetrics.METRIC_COMPILATION_TIME's count), the compile ms
 * (CodeGenerator.compileTime) and the Spark jobs started.
 *
 * Run (single-file source launch, after `sbt compile`):
 *   java --add-opens ... -cp "target/scala-2.13/classes:$SPARK_HOME/jars/*" \
 *     plans/codegen_reuse/CompileProbe.java /path/to/sf0.01 6 \
 *     q_stream_changefeed,q_stream_ewma
 */
public class CompileProbe {
  public static void main(String[] args) throws Exception {
    String sf = args[0];
    int passes = Integer.parseInt(args[1]);
    String[] names = args[2].split(",");
    SparkSession spark = graft.Session.builder("4").getOrCreate();
    spark.sparkContext().setLogLevel("WARN");
    graft.Session.warmTables(spark, sf);
    AtomicInteger jobs = new AtomicInteger();
    spark.sparkContext().addSparkListener(new SparkListener() {
      @Override public void onJobStart(SparkListenerJobStart e) { jobs.incrementAndGet(); }
    });
    for (int p = 1; p <= passes; p++) {
      double passS = 0; long passC = 0;
      for (String q : names) {
        long c0 = CodegenMetrics.METRIC_COMPILATION_TIME().getCount();
        long ns0 = CodeGenerator.compileTime();
        int j0 = jobs.get();
        long t0 = System.nanoTime();
        ((org.apache.spark.sql.Dataset<?>) graft.SparkEntry.queries().apply(q)
            .apply(spark, sf)).write().format("noop").mode("overwrite").save();
        double s = (System.nanoTime() - t0) / 1e9;
        Thread.sleep(300); // let the listener bus deliver the last job starts
        long c = CodegenMetrics.METRIC_COMPILATION_TIME().getCount() - c0;
        passS += s; passC += c;
        System.out.printf("[probe] pass %d %s: %.2f s, %d compiles, %.0f compile ms, %d jobs%n",
            p, q, s, c, (CodeGenerator.compileTime() - ns0) / 1e6, jobs.get() - j0);
      }
      System.out.printf("[probe] pass %d total: %.2f s, %d compiles%n", p, passS, passC);
    }
    spark.stop();
  }
}
