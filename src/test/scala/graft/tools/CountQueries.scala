package graft.tools

/** Dev probe: inventory counts + oracle coverage. */
object CountQueries extends App {
  val q = graft.SparkEntry.queries
  val o = graft.SparkEntry.oracles
  println(s"queries=${q.size} oracle=${o.size}")
  println("no-oracle: " + q.keySet.diff(o.keySet).toSeq.sorted.mkString(","))
  println("orphan-oracle: " + o.keySet.diff(q.keySet).toSeq.sorted.mkString(","))
  val byLetter = q.keySet.groupBy(_.takeWhile(_.isLetter)).map { case (k, v) => s"$k:${v.size}" }.toSeq.sorted
  println(byLetter.mkString(" "))
}
