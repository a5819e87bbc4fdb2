package graft.tools

import org.apache.spark.sql.functions._

/** Per-query overlap of each ANN shortlist's top-5 against the exact
  * brute-force top-5 at a given sf dir — the measurement that sizes the
  * per-query recall floors the v4/v5/v7 oracle gates pin. Optional
  * trailing ints sweep the IVF-family nprobe (the recall/scan knob):
  *
  *   sbt "runMain graft.tools.AnnOverlap /root/testdata/sf0.01 3 4 5 6"
  */
object AnnOverlap {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nprobes = args.drop(1).map(_.toInt).toSeq match {
      case Seq() => Seq(graft.operators.IvfIndex.NProbe)
      case ps => ps
    }
    val spark = graft.GraftSession.local("graft-ann-overlap")

    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("qid", "nid").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet }

    val exact = topSets(
      graft.SparkEntry.queries("v2_ann_topk")(spark, sfDir))
    def report(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val ann = topSets(df)
      val overlaps = exact.keys.toSeq.sorted.map { q =>
        q -> ann.getOrElse(q, Set.empty).intersect(exact(q)).size }
      println(s"ANNOVERLAP $name min=${overlaps.map(_._2).min} " +
        overlaps.map { case (q, o) => s"q$q=$o" }.mkString(" "))
    }
    report("v4_lsh", graft.queries.VectorQueries.annLshTopK(spark, sfDir))
    nprobes.foreach { np =>
      report(s"v5_ivf@np$np",
        graft.queries.VectorQueries.annIvfTopK(spark, sfDir, np))
      report(s"v7_ivfpq@np$np",
        graft.queries.VectorQueries.annIvfPqTopK(spark, sfDir, np))
    }
    spark.stop()
  }
}
