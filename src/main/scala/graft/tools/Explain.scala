package graft.tools
import graft.{GraftSession, SparkEntry}
/** Dev tool: print formatted plans for selected queries.
  * Usage: Explain [<sfDir> <ignored>] <q1,q2,...> [...], e.g. via
  * `tools/run_verify.sh <sfDir> x graft.tools.Explain q54,q55`. Without
  * a leading sfDir, SPARK_GRAFT_SF_DIR (default sf0.01) is used.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // A leading absolute path is the sfDir, followed by run_verify.sh's
    // output-dir slot; every other arg is a (comma-separable) query-name
    // list (r14, ADVICE r13: `Explain q54 q55` prints both).
    val (sf, lists) =
      if (args.headOption.exists(_.startsWith("/"))) (args(0), args.drop(2))
      else (sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"), args)
    val names = lists.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSeq
    require(names.nonEmpty, "usage: Explain [<sfDir> <ignored>] <q1,q2,...>")
    val spark = GraftSession.get()
    names.foreach { name =>
      println(s"========== $name ==========")
      SparkEntry.queries(name)(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}
