package graft

import org.apache.spark.sql.SparkSession

/** Physical-plan audit: prints explain("formatted") for the headline
  * queries so scan pruning (ReadSchema/PushedFilters), broadcast
  * joins, TakeOrderedAndProject fusion and WholeStageCodegen spans can
  * be inspected per round. Usage: runMain graft.Explain [sfDir] [name ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.specs.filter(_.headline).map(_.name)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not declared queries: ${unknown.mkString(", ")}")
    val spark = Tables.session("local[4]", 8)
    names.foreach { name =>
      println(s"\n########## $name ##########")
      try println(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
