package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

/** The one owner of where graft writes. It has three jobs:
  *  - query scratch directories ([[dir]]): every round-trip, persisted
  *    index and file-sink query writes under its own `tag`;
  *  - stream sources ([[streamSource]]): a corpus table copied into a
  *    directory a file-source stream can watch;
  *  - keyed fit artifacts ([[dirKeyedOnSource]]): fit-once models and
  *    sketches whose directory changes when the source table does.
  *
  * Two contracts (ADVICE r12):
  *  - the root is NOT pinned to the repo checkout: override with
  *    `-Dgraft.tmp.dir=...` (or `GRAFT_TMP_DIR`); the default is
  *    `<cwd>/target/tmp`, which matches the historical layout when the
  *    driver runs from the repo root;
  *  - every query stages into its OWN subdirectory (`tag` should embed
  *    the query id when two queries derive the same artifact), so
  *    concurrent execution of two registry entries never races on a
  *    shared overwrite-mode path.
  */
object Staging {
  lazy val root: String =
    sys.props.get("graft.tmp.dir")
      .orElse(sys.env.get("GRAFT_TMP_DIR"))
      .getOrElse(s"${sys.props.getOrElse("user.dir", ".")}/target/tmp")

  /** Per-(tag, data-dir) staging directory, e.g.
    * `dir("gram_index_probe", "/root/testdata/sf0.01")`.
    */
  def dir(tag: String, sfDir: String): String = {
    val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    s"$root/${tag}_$safe"
  }

  /** Copy `<sfDir>/<table>.parquet` into its own directory so a file
    * source can watch it (the corpus itself is never touched), and
    * return that directory. Re-copies when the source's size or mtime
    * differs from the staged copy, so a regenerated corpus can never
    * pair a stale stream input with a fresh oracle. Every stream over
    * the table shares the copy; only a stale one is written.
    */
  def streamSource(sfDir: String, table: String): String = {
    val d = Paths.get(dir(s"stream_$table", sfDir))
    Files.createDirectories(d)
    val src = Paths.get(s"$sfDir/$table.parquet")
    val dst = d.resolve(s"$table.parquet")
    val stale = !Files.exists(dst) ||
      Files.size(dst) != Files.size(src) ||
      Files.getLastModifiedTime(dst) != Files.getLastModifiedTime(src)
    if (stale)
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.COPY_ATTRIBUTES)
    d.toString
  }

  /** [[dir]] additionally keyed on the SOURCE table's modification time
    * and total content length (r14, VERDICT r13 item 6): persisted
    * fit-once artifacts (q232's MG sketch, q440's NB model) were guarded
    * only by `fs.exists`, so a corpus rewritten in place between runs
    * could silently reuse a stale artifact. A changed corpus resolves to
    * a fresh path and refits. The length (summed over the files, since
    * Spark writes a table as a directory) catches a rewrite inside the
    * filesystem's modTime granularity. A missing source throws: there is
    * no key that could tell a later corpus from this one.
    */
  def dirKeyedOnSource(spark: org.apache.spark.sql.SparkSession,
                       tag: String, sfDir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$sfDir/$table.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mt = fs.getFileStatus(p).getModificationTime // FileNotFoundException naming p
    val len = fs.getContentSummary(p).getLength
    dir(s"${tag}_mt${mt}_len$len", sfDir)
  }
}
