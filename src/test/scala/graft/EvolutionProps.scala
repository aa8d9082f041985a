package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.sinks.TxLog

/** Property-based law of TxLog schema evolution: K evolved commits —
  * with random column subsets, orderings, nullability flips, and
  * nested array/struct columns — must converge to the same final table
  * as a plain-Scala row-replace fold (the DedupIndex rebuild
  * invariant, pushed down to the TxLog layer). Round 5 shipped the
  * evolution guard with a day-one nullability bug its three
  * hand-written cases missed; this generator covers that class. */
object EvolutionProps extends Properties("txlog-evolution") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(100)

  private lazy val spark = TestSession.spark

  private val colNames = List("s", "d", "arr", "st")

  private def fieldOf(name: String, flag: Boolean): StructField = name match {
    case "s" => StructField("s", StringType, nullable = flag)
    case "d" => StructField("d", DoubleType, nullable = flag)
    case "arr" =>
      StructField("arr", ArrayType(LongType, containsNull = flag), true)
    case "st" => StructField("st", StructType(Seq(
      StructField("a", LongType, nullable = flag),
      StructField("b", StringType, nullable = true))), true)
  }

  private def cellGen(c: String): Gen[Any] = c match {
    case "s" => Gen.alphaNumStr.map(_.take(6))
    case "d" => Gen.choose(0, 4000).map(_ / 4.0)
    case "arr" => Gen.listOfN(3, Gen.choose(0L, 99L))
    case "st" => Gen.zip(Gen.choose(0L, 99L), Gen.alphaNumStr.map(_.take(4)))
  }

  private case class Commit(cols: List[(String, Boolean)],
                            rows: List[(Long, Map[String, Any])])

  private val commitGen: Gen[Commit] = for {
    subset <- Gen.someOf(colNames).suchThat(_.nonEmpty).map(_.toList)
    flags <- Gen.listOfN(subset.size, Gen.oneOf(true, false))
    prio <- Gen.listOfN(subset.size, Gen.choose(0, 1000))
    keys <- Gen.someOf(0L to 5L).suchThat(_.nonEmpty).map(_.toList)
    cells <- Gen.sequence[List[List[Any]], List[Any]](
      keys.map(_ => Gen.sequence[List[Any], Any](subset.map(cellGen))))
  } yield {
    val cols = subset.zip(flags).zip(prio).sortBy(_._2).map(_._1)
    val rows = keys.zip(cells).map { case (k, vs) =>
      k -> subset.zip(vs).toMap
    }
    Commit(cols, rows)
  }

  private val scheduleGen: Gen[List[Commit]] =
    Gen.choose(2, 4).flatMap(k => Gen.listOfN(k, commitGen))

  /** Spark-side cell for createDataFrame (struct tuples become Rows). */
  private def sparkCell(c: String, v: Any): Any = (c, v) match {
    case ("st", (a: Long, b: String)) => Row(a, b)
    case _ => v
  }

  /** Read-back normalization to the model's value domain. */
  private def norm(v: Any): Any = v match {
    case null => null
    case r: Row => (r.getLong(0), r.getString(1))
    case s: scala.collection.Seq[_] => s.toList
    case other => other
  }

  property("K evolved commits == plain row-replace fold") =
    forAll(scheduleGen) { schedule =>
      val t = graft.core.Scratch.dir(spark, "txlog-evo")

      schedule.zipWithIndex.foreach { case (cmt, i) =>
        val schema = StructType(
          StructField("k", LongType, false) ::
          StructField("ver", LongType, false) ::
          cmt.cols.map { case (c, flag) => fieldOf(c, flag) })
        val rows = cmt.rows.map { case (k, vals) =>
          Row.fromSeq(k :: (i + 1).toLong ::
            cmt.cols.map { case (c, _) => sparkCell(c, vals(c)) })
        }
        val df = spark.createDataFrame(
          new java.util.ArrayList[Row](scala.jdk.CollectionConverters
            .SeqHasAsJava(rows).asJava), schema)
        TxLog.commitUpsert(df, t, "k", "ver")
      }

      // model: whole-row replace, later commit wins; columns accrete in
      // first-seen order and a batch missing a column nulls it out
      val allCols = scala.collection.mutable.LinkedHashSet[String]()
      val state = scala.collection.mutable.Map[Long, (Long, Map[String, Any])]()
      schedule.zipWithIndex.foreach { case (cmt, i) =>
        cmt.cols.foreach(c => allCols += c._1)
        cmt.rows.foreach { case (k, vals) =>
          state(k) = ((i + 1).toLong, vals)
        }
      }
      val expected = state.map { case (k, (ver, vals)) =>
        k -> ((ver, allCols.toList.map(c =>
          c -> vals.getOrElse(c, null)).toMap))
      }.toMap

      val got = TxLog.read(spark, t).get.collect().map { r =>
        r.getAs[Long]("k") -> ((r.getAs[Long]("ver"),
          allCols.toList.map(c => c -> norm(r.getAs[Any](c))).toMap))
      }.toMap

      val sameCols = TxLog.read(spark, t).get.columns.toSet ==
        (Set("k", "ver") ++ allCols)
      if (got != expected || !sameCols)
        println(s"MISMATCH cols=$sameCols\n got=$got\n want=$expected")
      got == expected && sameCols
    }
}
