package graft

/** Throwaway local directories (bounded-run checkpoints, staged stream
  * chunks, gate-scoped fixture stores), plus the one recursive file
  * listing and the one recursive delete the library's local-directory
  * code shares (the versioned store included). */
private[graft] object TmpDirs {

  /** tmpfs when writable (these dirs die with the run, so durable-disk
    * writes would be pure I/O overhead), else `java.io.tmpdir`. */
  def shmRoot: String =
    if (new java.io.File("/dev/shm").canWrite) "/dev/shm"
    else System.getProperty("java.io.tmpdir")

  /** Every regular file under `root`, recursively (`root` itself when it
    * is a file; empty when it is missing). */
  def leafFiles(root: String): Seq[java.io.File] = {
    def go(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .toSeq.flatMap(go)
      else Seq(f)
    go(new java.io.File(root))
  }

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
