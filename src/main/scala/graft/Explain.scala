package graft

import graft.tools.Runner

/** Plan audit: prints the formatted physical plan for the named queries
  * (all with no args). Used to keep the plans honest — PushedFilters
  * reaching the parquet scan, broadcast joins on dimensions,
  * TakeOrderedAndProject for top-k, WholeStageCodegen spans over the
  * hot expressions.
  *
  * Usage: sbt "runMain graft.Explain [sfDir] [queryName...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val runner = new Runner(sfDir, _.sparkContext.setLogLevel("ERROR"))
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        val spark = runner.next()
        println(s"\n===== $name =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable =>
          println(s"explain failed: ${e.getMessage}")
        }
        Runner.release(spark)
      }
    }
    runner.stop()
  }
}
