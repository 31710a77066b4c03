package graft

/** Per-JVM scratch namespace for derived-artifact stores (MV summaries,
  * embedding/LSH indexes). Independent JVMs share java.io.tmpdir, and a
  * fresh JVM rebuilding a GLOBAL artifact path with overwrite deletes
  * part files out from under another JVM's pinned file listing
  * (observed: a concurrent Plans run racing the test JVM turned its
  * registered MV scan into FILE_NOT_EXIST mid-query). These artifacts
  * are session-lifetime caches — nothing legitimately reads them across
  * JVMs, and every store already wipes or rebuilds on first touch — so
  * scoping the path by a per-JVM token removes the interference without
  * changing any within-JVM semantics. A shutdown hook removes the whole
  * namespace so crashed-JVM leftovers don't accumulate (and a kill -9's
  * orphans are bounded by the token dir, easy to sweep). */
object Scratch {
  private lazy val root: java.io.File = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val f = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_jvm_$token")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rm))
        x.delete(); ()
      }
      rm(f)
    }))
    f
  }

  /** Absolute path of a named store inside this JVM's namespace (not
    * created — writers create it). */
  def dir(name: String): String = new java.io.File(root, name).getAbsolutePath

  /** The deterministic root of store `name` over the sf dir `d` (not
    * created). The "sf" prefix keeps the directory name from starting
    * with an underscore (the sanitized leading "/"), which would make
    * it hidden to Spark's file index. */
  def sfDir(name: String, d: String): String =
    new java.io.File(dir(name), "sf" + d.replaceAll("[^A-Za-z0-9.]", "_")).getAbsolutePath

  /** [[sfDir]], wiped per call: a lifecycle query's re-run starts its
    * tables from v0 (committing onto a previous run's snapshots would
    * change the answer) and leaks no temp dirs. */
  def fresh(name: String, d: String): String = {
    val f = sfDir(name, d)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(f))
    f
  }
}
