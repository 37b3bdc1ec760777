package graft.core

import java.nio.file.{Files, Path, Paths}

/** Stable scratch directories for queries that materialize a derived
  * layout (bucketed/partitioned copies, stream staging): the same
  * invocation target reuses ONE directory — cleared on entry — instead
  * of leaking a fresh temp dir per run, so repeated Bench/Verify/test
  * passes keep disk usage bounded. The pid component isolates
  * concurrently running JVMs (e.g. a bench and a test run).
  */
object TmpDirs {
  private val root: Path = Paths.get(
    System.getProperty("java.io.tmpdir"),
    s"graft_scratch_${ProcessHandle.current().pid()}")

  /** Per-process warehouse location for saveAsTable metadata — shared
    * by the main and test session builders so neither drops an empty
    * spark-warehouse/ dir into the working directory. */
  def warehouseDir: String = root.resolve("warehouse").toString

  /** The directory [[scratch]] hands out for (name, key), untouched. */
  def dir(name: String, key: String): String =
    root.resolve(s"${name}_${Integer.toHexString(key.hashCode)}").toString

  def scratch(name: String, key: String): String = {
    val p = Paths.get(dir(name, key))
    deleteRecursively(p)
    Files.createDirectories(p)
    p.toString
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
