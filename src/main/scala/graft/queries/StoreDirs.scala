package graft.queries

/** Scratch directories for every gate that writes and reads back inside
  * its own body: the store-roundtrip gates (nb2/y7/y9/x12/x14) and the
  * sink round-trip gates (s12/s8s9/s6b/s13/z1/s4). Each invocation
  * writes a model/assignment/signature store or a sink's files and
  * reads them back INSIDE the gate, so the directory must be (a)
  * unique per invocation — the earlier `hashCode(sfDir)` keying let two
  * concurrent runs on the same sf dir overwrite each other's store
  * mid-gate, and 32-bit collisions could alias different data dirs
  * (round-14 advice) — and (b) cleaned up, which cannot happen inside
  * the gate body because the returned DataFrame reads the store lazily:
  * deletion is deferred to a JVM shutdown hook.
  */
object StoreDirs {

  private val cleanupRegistered = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val created = java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  /** A fresh unique scratch dir for one gate invocation. `tag` names the
    * gate, `dataDir` the sf dir (its sanitized basename lands in the
    * path for debuggability — uniqueness comes from
    * `Files.createTempDirectory`'s nonce, not from hashing the path). */
  def fresh(tag: String, dataDir: String): String = {
    val base = new java.io.File(dataDir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    val dir = java.nio.file.Files.createTempDirectory(s"graft_${tag}_${base}_")
    created.add(dir)
    if (cleanupRegistered.compareAndSet(false, true)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        created.forEach { p =>
          try deleteRecursively(p.toFile)
          catch { case _: Exception => () } // best-effort scratch cleanup
        }
      }, "graft-store-dir-cleanup"))
    }
    dir.toString
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
    ()
  }
}
