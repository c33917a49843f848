package graft

/** The one graft-internal counter the benchmark reads: delete-file loads
  * (cache misses) of the DSv2 scan's per-JVM delete-file cache. */
object PerfbenchProbe {
  def deleteLoads: Long = graft.sources.DeleteFileCache.misses
}
