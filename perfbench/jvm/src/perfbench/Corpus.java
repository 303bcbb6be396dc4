package perfbench;

/**
 * Prints the program's default corpus directory, from which the ETL
 * workloads derive their sources; the query_mix corpus sits beside it.
 */
public final class Corpus {
  private Corpus() {}

  public static void main(String[] args) {
    System.out.println(graft.LocalSession.sfDir$default$1());
  }
}
