package graft.tools

import graft.{Session, SparkEntry}

/** Plan auditor: prints the formatted physical plan of every declared query
  * (or the ones named in args) so scan pruning (`ReadSchema`), pushed filters
  * (`PushedFilters`), join strategies (`BroadcastHashJoin`), top-k
  * (`TakeOrderedAndProject`) and `WholeStageCodegen` spans can be reviewed.
  *
  * Usage: runMain graft.tools.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSet else SparkEntry.queries.keySet
    val spark = Session.start("graft-explain")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.contains(name)) {
        println(s"\n========== $name ==========")
        try println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
