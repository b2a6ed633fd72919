import java.io.File;
import java.util.ArrayList;
import java.util.List;
import java.util.concurrent.atomic.AtomicInteger;

import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.StageInfo;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;

/**
 * A merge with a large rewrite set under a tiny delta: a table of `rows`
 * rows whose keys are hashed ids (every file spans the whole key range),
 * upserted `reps` times by 3 keys that come through a shuffle (the shape
 * of a keyed change batch, which AQE coalesces into one partition). Each
 * merge rewrites every file. Prints per merge the wall seconds, the
 * Spark jobs, and each completed stage's tasks and seconds; the join and
 * the write run in the last stage.
 *
 * Run (single-file source launch, after `sbt compile`):
 *   java --add-opens ... -Xmx3g -cp "target/scala-2.13/classes:$SPARK_HOME/jars/*" \
 *     plans/codegen_reuse/MergeProbe.java <empty table dir> 3000000 3
 */
public class MergeProbe {
  public static void main(String[] args) throws Exception {
    String dir = args[0];
    long rows = Long.parseLong(args[1]);
    int reps = Integer.parseInt(args[2]);
    SparkSession spark = graft.Session.builder("4").getOrCreate();
    spark.sparkContext().setLogLevel("WARN");
    AtomicInteger jobs = new AtomicInteger();
    List<String> stages = new ArrayList<>();
    spark.sparkContext().addSparkListener(new SparkListener() {
      @Override public void onJobStart(SparkListenerJobStart e) { jobs.incrementAndGet(); }
      @Override public void onStageCompleted(SparkListenerStageCompleted e) {
        StageInfo st = e.stageInfo();
        long ms = (long) st.completionTime().get() - (long) st.submissionTime().get();
        synchronized (stages) { stages.add(st.numTasks() + "t/" + ms / 1000.0 + "s"); }
      }
    });
    Dataset<Row> table = spark.range(rows).selectExpr("'a' AS part",
        "xxhash64(id) AS x", "md5(CAST(id AS STRING)) AS payload").repartition(8);
    graft.sources.Snapshots.commit(spark, dir, table, "part",
        scala.jdk.javaapi.CollectionConverters.asScala(List.of("x")).toSeq(),
        graft.sources.Snapshots.commit$default$6());
    long bytes = 0;
    for (File f : new File(dir).listFiles()) bytes += du(f);
    System.out.printf("[merge-probe] table: %d rows, %.1f MB on disk%n", rows, bytes / 1e6);
    for (int r = 1; r <= reps; r++) {
      Dataset<Row> delta = spark.range(3).selectExpr("xxhash64(id * 1000003) AS x")
          .groupBy("x").count()
          .selectExpr("x", "'u" + r + "' AS payload", "'U' AS op", "'a' AS part");
      Thread.sleep(500);
      synchronized (stages) { stages.clear(); }
      int j0 = jobs.get();
      long t0 = System.nanoTime();
      graft.sources.Snapshots.merge(spark, dir, "part", "x", delta,
          graft.sources.Snapshots.merge$default$6(), graft.sources.Snapshots.merge$default$7());
      double s = (System.nanoTime() - t0) / 1e9;
      Thread.sleep(500); // let the listener bus deliver the last events
      synchronized (stages) {
        System.out.printf("[merge-probe] merge %d: %.2f s, %d jobs, stages %s%n",
            r, s, jobs.get() - j0, stages);
      }
    }
    spark.stop();
  }

  private static long du(File f) {
    if (f.isFile()) return f.length();
    long n = 0;
    File[] fs = f.listFiles();
    if (fs != null) for (File c : fs) n += du(c);
    return n;
  }
}
