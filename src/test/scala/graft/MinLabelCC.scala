package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference connected components the alternating-CC specs compare
  * against: min-label propagation. Every iteration gives each node the
  * minimum label of its closed neighbourhood, so it needs as many
  * iterations as the component diameter (`Dedup.connectedComponentsAlternating`
  * needs O(log n) rounds); once nothing changes the labels are the
  * component minima. Input columns `u`, `v`; returns node → cluster_id for
  * every node that appears in an edge, and throws when `maxIter` iterations
  * do not converge. */
object MinLabelCC {
  def apply(edges: DataFrame, maxIter: Int = 20): Map[Long, Long] = {
    val und = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
      .persist()
    try {
      var labels = und.select(col("u").as("node")).distinct()
        .withColumn("lbl", col("node")).localCheckpoint()
      var changed = 1L
      var iter = 0
      while (changed > 0L && iter < maxIter) {
        val nbrMin = und.join(labels.select(col("node").as("v"), col("lbl")), "v")
          .groupBy("u").agg(min("lbl").as("nbr_lbl"))
        val step = labels
          .join(nbrMin.withColumnRenamed("u", "node"), Seq("node"), "left")
          .select(col("node"), col("lbl").as("old_lbl"),
            least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"))
          .localCheckpoint()
        changed = step.filter(col("lbl") < col("old_lbl")).count()
        labels = step.select("node", "lbl")
        iter += 1
      }
      if (changed > 0L)
        throw new IllegalStateException(
          s"min-label CC: not converged after $maxIter iterations")
      labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    } finally { und.unpersist(); () }
  }
}
