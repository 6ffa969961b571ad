package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: dump formatted physical plans for selected queries so
  * pushdown / broadcast / codegen spans can be audited. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.build("8")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n########## $n")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
