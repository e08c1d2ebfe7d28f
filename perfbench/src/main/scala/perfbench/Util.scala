package perfbench

import scala.jdk.CollectionConverters._

/** Relative closeness for doubles computed on two paths. */
object Close {
  def apply(x: Double, y: Double, rel: Double = 1e-9): Boolean =
    x == y || math.abs(x - y) <= rel * math.max(math.abs(x), math.abs(y))
}

/** Local directory listing (the benchmark's inputs and stores are on
  * the local filesystem). */
object Files {
  /** Parquet data files under `dir`: path -> bytes. */
  def parquet(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      finally s.close()
    }
  }
}
