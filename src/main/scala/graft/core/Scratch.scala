package graft.core

import java.io.File

import org.apache.commons.io.FileUtils

/** Scratch directories for the operators and queries that round-trip
  * data through files (partitioned copies, compaction, format
  * round-trips). */
object Scratch {
  private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `java.io.tmpdir/graft_<name>_p<pid>`, deleted when the JVM exits.
    * The pid keeps concurrent JVMs (a verify run beside a bench) from
    * racing `mode("overwrite")` on one directory; the shutdown hook
    * registers once per path, however often a query lambda re-runs. */
  def dir(name: String): File = {
    val f = new File(System.getProperty("java.io.tmpdir"),
      s"graft_${name}_p${ProcessHandle.current().pid()}")
    if (hooked.add(f.getAbsolutePath))
      Runtime.getRuntime.addShutdownHook(new Thread(() => FileUtils.deleteQuietly(f): Unit))
    f
  }
}
