package perfbench;

import java.io.IOException;
import java.io.Writer;
import java.lang.management.GarbageCollectorMXBean;
import java.lang.management.ManagementFactory;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;

import com.fasterxml.jackson.core.JsonProcessingException;
import com.fasterxml.jackson.databind.ObjectMapper;

/**
 * In-memory span store shared by the three trace listeners (they are
 * constructed separately by Spark, so the store is static). Nothing is
 * written until the application ends; then every record goes out as one
 * JSON line to the file named by the {@code perfbench.trace} system
 * property.
 */
final class Trace {
  private static final ObjectMapper MAPPER = new ObjectMapper();
  private static final List<Map<String, Object>> records = new ArrayList<>();

  private Trace() {}

  /** A new record of the given kind; fields keep their insertion order. */
  static Map<String, Object> record(String kind) {
    Map<String, Object> r = new LinkedHashMap<>();
    r.put("kind", kind);
    return r;
  }

  static synchronized void add(Map<String, Object> record) {
    records.add(record);
  }

  static String json(Object value) {
    try {
      return MAPPER.writeValueAsString(value);
    } catch (JsonProcessingException e) {
      throw new RuntimeException(e);
    }
  }

  /** JVM counters from the platform MXBeans. */
  static Map<String, Object> jvm() {
    long gcMs = 0;
    for (GarbageCollectorMXBean gc : ManagementFactory.getGarbageCollectorMXBeans())
      gcMs += Math.max(0, gc.getCollectionTime());
    Map<String, Object> m = new LinkedHashMap<>();
    m.put("cpu_ns", ((com.sun.management.OperatingSystemMXBean)
        ManagementFactory.getOperatingSystemMXBean()).getProcessCpuTime());
    m.put("gc_ms", gcMs);
    m.put("jit_ms", ManagementFactory.getCompilationMXBean().getTotalCompilationTime());
    m.put("classes", ManagementFactory.getClassLoadingMXBean().getTotalLoadedClassCount());
    return m;
  }

  static synchronized void flush() {
    String path = System.getProperty("perfbench.trace");
    if (path == null) return;
    try (Writer w = Files.newBufferedWriter(Paths.get(path), StandardCharsets.UTF_8)) {
      for (Map<String, Object> r : records) w.write(json(r) + "\n");
    } catch (IOException e) {
      throw new RuntimeException("cannot write trace " + path, e);
    }
    records.clear();
  }
}
