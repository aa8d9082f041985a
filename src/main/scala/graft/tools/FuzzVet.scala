package graft.tools

/** Vets the FuzzGen case pool for the driver-replayed oracle suite:
  * runs every generated case at each testdata SF and prints the row
  * count, so `FuzzGen.vettedIdx` can be pinned to cases that are
  * non-empty everywhere (a 0-row differential case still hash-matches
  * the oracle, but proves nothing — and trips the rows>0 smoke spec).
  *
  *   sbt "runMain graft.tools.FuzzVet"
  */
object FuzzVet {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("8")
    val sfs = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(s => s -> s"/root/testdata/$s")
    val idxs = (0 until 40) ++ (1000 until 1016) ++ (2000 until 2016) ++
      (3000 until 3016) ++ (4000 until 4016) ++ (5000 until 5020) ++
      (6000 until 6020) ++ (7000 until 7020) ++ (8000 until 8020) ++
      (9000 until 9021) ++ (10000 until 10021) ++ (11000 until 11024) ++
      (12000 until 12032) ++ (13000 until 13032) ++ (14000 until 14032) ++
      (15000 until 15032) ++ (16000 until 16032)
    val pool = idxs.map(i => i -> graft.operators.FuzzGen.gen(i))
    val ok = pool.filter { case (i, f) =>
      val counts = sfs.map { case (_, d) => f.build(spark, d).count() }
      println(s"${f.name}: ${sfs.map(_._1).zip(counts)
        .map { case (s, c) => s"$s=$c" }.mkString(" ")}")
      counts.forall(_ > 0)
    }.map(_._1)
    println(s"non-empty at every SF: ${ok.mkString(", ")}")
    spark.stop()
  }
}
