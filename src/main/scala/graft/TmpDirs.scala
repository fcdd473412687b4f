package graft

/** Throwaway local directories: bounded-run checkpoints, staged stream
  * chunks, gate-scoped fixture stores. */
private[graft] object TmpDirs {

  /** tmpfs when writable (these dirs die with the run, so durable-disk
    * writes would be pure I/O overhead), else `java.io.tmpdir`. */
  def shmRoot: String =
    if (new java.io.File("/dev/shm").canWrite) "/dev/shm"
    else System.getProperty("java.io.tmpdir")

  /** Recursive delete; a missing path is a no-op. */
  def rmTree(p: String): Unit = {
    def go(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(go)
      f.delete(); ()
    }
    go(new java.io.File(p))
  }
}
