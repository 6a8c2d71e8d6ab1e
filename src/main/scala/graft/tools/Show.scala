package graft.tools

import graft.{Session, SparkEntry}

/** Print a query's result rows — quick eyeball check while iterating.
  *
  * Usage: runMain graft.tools.Show <sfDir> <queryName...>
  */
object Show {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1).toSeq
    val spark = Session.start("graft-show")
    names.foreach { name =>
      println(s"=== $name @ $sfDir")
      SparkEntry.queries(name)(spark, sfDir).show(50, truncate = false)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
