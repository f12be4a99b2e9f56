package graft.tools

/** Dev dump: the sf1 chain-at-a-time oracle plan of every query that
  * declares one ([[graft.QuerySpec.sf1Chains]]: the composite
  * d22/m15/g10/t52/t55 replays, staged one chain per statement) as JSON
  * for tools/sf1_chain_oracle.py. The t52 plan is session-scoped
  * (its decon chain embeds the dump-time canon chain built from the
  * TARGET corpus's alphabet), so the dump takes the sf dir being
  * replayed. Usage:
  *   sbt "Test/runMain graft.tools.DumpSf1ChainPlan /tmp/chain_plan.json <sfDir>"
  */
object DumpSf1ChainPlan extends App {
  import graft.Verify.jsonString

  val out = args.headOption.getOrElse("/tmp/chain_plan.json")
  val sfDir = args.lift(1).getOrElse("/tmp/graft_sf1")

  val plan: Seq[(String, Seq[(String, String)])] = {
    val s = graft.Tables.session("local[8]", shufflePartitions = 8)
    try graft.SparkEntry.specs.flatMap { q =>
      q.sf1Chains.map(chains => q.name -> chains(s, sfDir)) }
    finally {
      graft.Caches.release(s)
      s.stop()
    }
  }

  val json = plan.sortBy(_._1).map { case (q, chains) =>
    val arr = chains.map { case (n, sql) =>
      s"""[${jsonString(n)}, ${jsonString(sql)}]"""
    }.mkString("[", ", ", "]")
    s"""${jsonString(q)}: $arr"""
  }.mkString("{", ", ", "}")

  java.nio.file.Files.write(java.nio.file.Paths.get(out),
    json.getBytes("UTF-8"))
  println(s"wrote $out (${plan.size} queries)")
}
