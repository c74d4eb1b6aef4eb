package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

/** One-off probe for the X84 kNN graph at scale fixtures: prints the
  * effective plane count, end-to-end wall seconds for the FULL graph,
  * edge count, and the measured mean recall@5 over 8 probe nodes vs
  * the exact scan (the quantity `knn_graph_bound` gates at >= 0.45).
  * Run:
  *   sbt "Test/runMain graft.KnnProbe /tmp/graft_sf1 /tmp/graft_sf10"
  */
object KnnProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()

    val occ = sys.env.getOrElse("GRAFT_KNN_OCC", "64").toInt
    val cap = sys.env.getOrElse("GRAFT_KNN_CAP", "1024").toInt
    args.foreach { d =>
      val emb = Tables.embeddings(spark, d)
      val n = emb.count()
      println(s"=== $d (n=$n, occ=$occ, planes=${Similarity.knnPlanesFor(n, occTarget = occ)}, cap=$cap) ===")
      val t0 = System.nanoTime()
      val g = Similarity.knnGraph(emb, k = 5, idx = Some((spark, d)),
        occTarget = occ, bucketCap = cap).localCheckpoint()
      val edges = g.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"  knn_graph: $edges edges in $secs%.1f s")
      val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("n2", Similarity.norm2(col("v")))
      val probes = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
      val exact = v.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(Similarity.dot(col("qv"), col("v")) / (sqrt(col("n2")) * sqrt(col("qn2"))), 6).as("cos"))
        .withColumn("r", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("r") <= 5)
        .select(col("q_id").as("src"), col("vec_id").as("dst"))
      val recall = exact
        .join(g.filter(col("src") < 8).select(col("src"), col("dst"))
          .withColumn("hit", lit(1)), Seq("src", "dst"), "left")
        .groupBy("src")
        .agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("recall"))
        .agg(avg(col("recall"))).head.getDouble(0)
      println(f"  mean recall@5 (8 probes) = $recall%.4f  (floor 0.45)")
    }
    spark.stop()
  }
}
