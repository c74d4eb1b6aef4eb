package graft

import graft.operators.Similarity

/** Ad-hoc operating-point sweep for ivfTopK (not a test, like
  * RecallSweep): mean top-10 recall vs the exact scan per (nClusters,
  * nProbe, iters). SimilaritySpec holds the asserted recall bounds.
  * Run: sbt "Test/runMain graft.IvfSweep" */
object IvfSweep {
  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val emb = sources.Tables.embeddings(spark, SparkTestSession.sf0001)
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.as[(Long, Int, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val exact = sets(Similarity.cosineTopK(emb, 8, 10))
    for ((nc, np, it) <- Seq((16,6,3), (16,8,3), (12,4,3), (8,3,3), (8,4,3), (16,4,5), (32,8,3))) {
      val ivf = sets(Similarity.ivfTopK(emb, 8, 10, nc, np, it))
      val mean = exact.map { case (q, ids) =>
        ivf.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size }.sum / exact.size
      println(f"nClusters=$nc nProbe=$np iters=$it recall=$mean%.3f")
    }
    spark.stop()
  }
}
