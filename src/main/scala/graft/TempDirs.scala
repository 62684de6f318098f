package graft

/** Self-cleaning scratch directories. Every `GraftSession` (the mains
  * and the test fixture) is built over a fresh temp warehouse (so managed tables — q96's
  * bucketed lineitem+orders copies — never land in a spark-warehouse/
  * inside the repo), but those directories used to outlive the JVM and
  * accumulate across runs. A shutdown hook deletes the directory
  * recursively on exit; that also covers the corner where getOrCreate
  * returns a pre-existing session and the warehouse conf is a no-op —
  * the unused directory still goes away.
  */
object TempDirs {
  def scratch(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(p.toFile)))
    p.toString
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
    ()
  }
}
