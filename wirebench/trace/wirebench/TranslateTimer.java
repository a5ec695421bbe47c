package wirebench;

import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.Arrays;
import java.util.List;

/**
 * Times graft.PgDialect.translateSelect, the dialect's public SQL
 * translation, on each statement of a file: statements are separated by
 * a line holding only "--next--". After three warm-up rounds each
 * statement is translated seven times; one line per statement gives the
 * median in milliseconds.
 */
public final class TranslateTimer {
  public static void main(String[] args) throws Exception {
    String text = new String(Files.readAllBytes(Paths.get(args[0])), StandardCharsets.UTF_8);
    List<String> stmts = Arrays.asList(text.split("\n--next--\n"));
    for (int round = 0; round < 3; round++)
      for (String s : stmts) graft.PgDialect.translateSelect(s);
    for (String s : stmts) {
      double[] ms = new double[7];
      for (int i = 0; i < ms.length; i++) {
        long t0 = System.nanoTime();
        graft.PgDialect.translateSelect(s);
        ms[i] = (System.nanoTime() - t0) / 1e6;
      }
      Arrays.sort(ms);
      System.out.println(ms[ms.length / 2]);
    }
  }
}
