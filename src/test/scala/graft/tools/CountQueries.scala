package graft.tools

/** Dev probe: inventory counts. */
object CountQueries extends App {
  val specs = graft.SparkEntry.specs
  println(s"queries=${specs.size} headline=${specs.count(_.headline)}")
  val byLetter = specs.groupBy(_.name.takeWhile(_.isLetter)).map { case (k, v) => s"$k:${v.size}" }.toSeq.sorted
  println(byLetter.mkString(" "))
}
