package perfbench;

import java.io.BufferedReader;
import java.io.File;
import java.io.InputStreamReader;
import java.io.PrintStream;
import java.nio.charset.StandardCharsets;

import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;

/**
 * The resident client of the query_mix workload: one {@code
 * graft.LocalSession} session that runs named queries from the public
 * registries on request. It reads one command per line on stdin and answers
 * each with one line on stdout that starts with {@code @@}; Spark's own
 * output goes to stderr.
 *
 * <pre>
 *   run NAME        materialize the query once through the noop sink
 *   save NAME DIR   write the query's rows to DIR as one parquet file
 *   registry NAME   which registry owns the name
 *   quit            stop the session and exit
 * </pre>
 *
 * Every answer to {@code run} carries the JVM counters after the query. The
 * one argument is the corpus directory the queries read.
 */
public final class QueryMix {
  private QueryMix() {}

  public static void main(String[] args) throws Exception {
    String sfDir = args[0];
    if (!new File(sfDir, "documents.parquet").isFile()) {
      System.err.println("query corpus " + sfDir + " is missing");
      System.exit(3);
    }
    PrintStream out = new PrintStream(System.out, true, "UTF-8");
    System.setOut(System.err);
    SparkSession spark = graft.LocalSession.build(
        String.valueOf(Runtime.getRuntime().availableProcessors()), "ERROR");
    out.println("@@ready " + Trace.json(Trace.jvm()));
    BufferedReader in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8));
    String line;
    try {
      while ((line = in.readLine()) != null) {
        String[] cmd = line.trim().split(" ");
        if (cmd[0].equals("quit")) break;
        try {
          switch (cmd[0]) {
            case "run":
              query(spark, sfDir, cmd[1]).write().format("noop").mode("overwrite").save();
              out.println("@@ok " + Trace.json(Trace.jvm()));
              break;
            case "save":
              query(spark, sfDir, cmd[1]).coalesce(1).write().mode("overwrite").parquet(cmd[2]);
              out.println("@@ok {}");
              break;
            case "registry":
              out.println("@@ok " + registry(cmd[1]));
              break;
            default:
              out.println("@@err unknown command " + cmd[0]);
          }
        } catch (Exception e) {
          out.println("@@err " + String.valueOf(e).replace('\n', ' '));
        }
      }
    } finally {
      spark.stop();
    }
    out.println("@@bye");
  }

  @SuppressWarnings("unchecked")
  private static Dataset<Row> query(SparkSession spark, String sfDir, String name) {
    scala.Function2<SparkSession, String, Dataset<Row>> fn =
        (scala.Function2<SparkSession, String, Dataset<Row>>) graft.SparkEntry.queries().apply(name);
    return fn.apply(spark, sfDir);
  }

  private static String registry(String name) {
    if (graft.queries.Relational.all().contains(name)) return "relational";
    if (graft.queries.TpcH.all().contains(name)) return "tpch";
    if (graft.queries.Analytics.all().contains(name)) return "analytics";
    if (graft.queries.Pipeline.all().contains(name)) return "pipeline";
    return "none";
  }
}
