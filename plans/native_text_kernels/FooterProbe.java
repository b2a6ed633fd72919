import java.util.Arrays;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.Path;
import org.apache.spark.sql.SparkSession;

/**
 * Times `Snapshots.footerBounds`, the per-file footer read a table-format
 * write task runs in `StatsCommitProtocol.commitTask`: writes a small
 * table as 4 parquet files, then reads each file's column bounds `reps`
 * times with the session's Hadoop conf (as a write task's conf carries
 * every Spark property) and prints the median and quartiles per call, and
 * every file's bounds.
 *
 * Run (single-file source launch, after `sbt compile`):
 *   java --add-opens ... -cp "target/scala-2.13/classes:$SPARK_HOME/jars/*" \
 *     plans/native_text_kernels/FooterProbe.java /tmp/footer_probe 200
 */
public class FooterProbe {
  public static void main(String[] args) throws Exception {
    String dir = args[0];
    int reps = Integer.parseInt(args[1]);
    SparkSession spark = graft.Session.builder("4").getOrCreate();
    spark.sparkContext().setLogLevel("WARN");
    spark.range(0, 40000).selectExpr("id", "cast(id % 97 as string) as s", "id * 0.5 as v")
        .repartition(4, org.apache.spark.sql.functions.col("s")).write().mode("overwrite").parquet(dir);
    Configuration conf = spark.sessionState().newHadoopConf();
    Path[] files = Arrays.stream(new java.io.File(dir).listFiles())
        .filter(f -> f.getName().endsWith(".parquet"))
        .map(f -> new Path(f.toURI())).toArray(Path[]::new);
    java.util.Map<String, org.apache.spark.sql.types.DataType> cols = new java.util.HashMap<>();
    cols.put("id", org.apache.spark.sql.types.DataTypes.LongType);
    cols.put("s", org.apache.spark.sql.types.DataTypes.StringType);
    cols.put("v", org.apache.spark.sql.types.DataTypes.DoubleType);
    scala.collection.immutable.Map<String, org.apache.spark.sql.types.DataType> wanted =
        scala.collection.immutable.Map$.MODULE$.from(scala.jdk.javaapi.CollectionConverters.asScala(cols));
    java.util.TreeSet<String> bounds = new java.util.TreeSet<>();
    double[] ms = new double[reps * files.length];
    int k = 0;
    for (int r = 0; r < reps; r++)
      for (Path f : files) {
        long t0 = System.nanoTime();
        bounds.add(graft.sources.Snapshots$.MODULE$.footerBounds(conf, f, wanted).toString());
        ms[k++] = (System.nanoTime() - t0) / 1e6;
      }
    // the first half warms the JIT; report the second
    double[] warm = Arrays.copyOfRange(ms, ms.length / 2, ms.length);
    Arrays.sort(warm);
    System.out.printf("[footer] %d calls (%d files x %d reps, second half): q1 %.2f ms, median %.2f ms, q3 %.2f ms per call%n",
        warm.length, files.length, reps / 2, warm[warm.length / 4], warm[warm.length / 2],
        warm[3 * warm.length / 4]);
    for (String b : bounds) System.out.println("[footer] a file's bounds: " + b);
    spark.stop();
  }
}
