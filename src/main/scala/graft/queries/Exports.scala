package graft.queries

/** Where the entries whose DuckDB oracle reads their export
  * (`knn_pq_consumer_restore_2048`, `clustered_probe_consumer`) write it.
  * `graft.Verify` puts the exports in a hidden directory of its output
  * directory, so a dump and the files its oracles read stay together; other
  * runs write them to a temporary directory. */
object Exports {
  @volatile private var root: String = graft.TmpDirs.path("exports")

  /** The export directory named `name`. */
  def path(name: String): String = new java.io.File(root, name).getAbsolutePath

  /** Write later exports under `outDir/.exports`. */
  def under(outDir: String): Unit = root = new java.io.File(outDir, ".exports").getAbsolutePath
}
