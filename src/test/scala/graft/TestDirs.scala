package graft

/** Scratch directories for specs and test-scope pins. Each comes from the
  * engine's [[graft.queries.StoreDirs.fresh]], so it is unique per call
  * and deleted when the JVM exits; a suite run leaves nothing in the
  * temp dir. */
object TestDirs {
  def fresh(tag: String): String = graft.queries.StoreDirs.fresh(tag, "spec")
}
