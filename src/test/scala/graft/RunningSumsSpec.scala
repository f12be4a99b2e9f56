package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RangeBuckets

/** `RangeBuckets.runningSums`, the one two-phase distributed prefix sum:
  * equal to a plain-Scala running fold for any bucket count, and the
  * only caller of the boundary sampler besides `Skyline`'s prefix max. */
class RunningSumsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("runningSums matches a plain-Scala fold: partitioned or not, two measures, null order keys") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(10)
    // Spark's ascending order: nulls first (the keys are ASCII, so
    // String order is Spark's UTF-8 byte order)
    val keyOrder = Ordering.Tuple2(Ordering.Option(Ordering.String),
      Ordering.Long)
    for (trial <- 1 to 6; parts <- Seq(1, 3, 17)) {
      val n = 1 + rnd.nextInt(60)
      val ids = rnd.shuffle((1L to 400L).toList).take(n)
      val rows = ids.map { id =>
        val k = if (rnd.nextInt(4) == 0) None
          else Some(Seq("a", "b", "c")(rnd.nextInt(3)))
        (1L + rnd.nextInt(3), k, id, rnd.nextInt(50).toLong)
      }
      val df = rows.toDF("grp", "k", "id", "v")
      // (id, running v, running count) per partition of `part`
      def fold(part: ((Long, Option[String], Long, Long)) => Any) =
        rows.groupBy(part).values.flatMap { rs =>
          var tot = 0L
          rs.sortBy(r => (r._2, r._3))(keyOrder).zipWithIndex.map {
            case ((_, _, id, v), i) => tot += v; (id, tot, i + 1L)
          }
        }.toSet
      for ((pcols, want) <-
          Seq(Seq("grp") -> fold(_._1), Nil -> fold(_ => ()))) {
        val out = RangeBuckets.runningSums(df, pcols, Seq("k", "id"),
          Seq("run_v" -> col("v"), "rn" -> lit(1L)), parts)
        assert(out.columns.toSeq.sorted ==
          (df.columns ++ Seq("run_v", "rn")).toSeq.sorted)
        val got = out.select("id", "run_v", "rn").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == want, s"trial $trial parts $parts by $pcols (n=$n): " +
          s"e.g. ${(got -- want).take(2)} vs ${(want -- got).take(2)}")
      }
    }
    Caches.release(spark)
  }

  test("only runningSums and Skyline sample range boundaries") {
    val src = Paths.get("src/main/scala")
    val calls = for {
      f <- Files.walk(src).iterator().asScala.toSeq
      if f.toString.endsWith(".scala")
      line <- Files.readAllLines(f).asScala
      if line.contains("boundaries(") && !line.contains("def boundaries(")
    } yield s"${src.relativize(f)}: ${line.trim}"
    assert(calls.size == 2 &&
      calls.exists(_.startsWith("graft/operators/RangeBuckets.scala:")) &&
      calls.exists(_.startsWith("graft/operators/Skyline.scala:")),
      s"RangeBuckets.boundaries call sites:\n${calls.mkString("\n")}")
  }
}
