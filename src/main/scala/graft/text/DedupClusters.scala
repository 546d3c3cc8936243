package graft.text

import graft.operators.Propagate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair graph → dedup
  * clusters (beyond-reference; the step after MinHash/SimHash pair
  * generation in a real training-data dedup pipeline: each cluster
  * keeps one representative).
  *
  * Algorithm: synchronous min-label propagation on [[Propagate]]. Each
  * pair is two directed edges (no self-loops); a round sets
  * label(v) ← least(label(v), min over v's neighbors' labels) — the
  * own label joins the neighbors' in one min aggregate — and the loop
  * stops at the first round that lowers no label. The result (min
  * vertex id per component) is the unique fixed point — deterministic
  * regardless of execution order — reached after as many rounds as the
  * min node's eccentricity, plus one that changes nothing; the first
  * round rides the node table. A 30-node chain takes 30 rounds.
  */
object DedupClusters {
  /** pairs: (id_a, id_b) undirected near-dup edges. Returns
    * (id, cluster_id) for every node that appears in a pair, where
    * cluster_id = min node id of its component. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // fail fast on the id contract: a non-numeric string id casts to
    // NULL and silently drops from the label joins with no hint the id
    // type was the problem; ids past 2^53 would later mis-compare
    // through a double cast in survivorsBy. Map string ids to longs
    // (xxhash64, a dictionary) before clustering.
    val ids = Seq("id_a", "id_b")
    ids.foreach { c =>
      val dt = pairs.schema(c).dataType
      require(Seq(org.apache.spark.sql.types.LongType,
                  org.apache.spark.sql.types.IntegerType,
                  org.apache.spark.sql.types.ShortType,
                  org.apache.spark.sql.types.ByteType).contains(dt),
        s"DedupClusters needs integral pair ids; '$c' is $dt")
    }
    val a = col("id_a").cast("long")
    val b = col("id_b").cast("long")
    val edges = pairs.select(explode(array(
        struct(a.as("src"), b.as("dst")), struct(b.as("src"), a.as("dst"))))
      .as("__e")).select("__e.src", "__e.dst")
    // the node table already holds round 1: with label(u) = u the
    // gather is a plain groupBy over the edges
    val (labels, _) = Propagate.run(edges, Int.MaxValue,
        _.groupBy("dst").agg(min("src").as("m")).select(col("dst").as("node"),
          least(col("dst"), col("m")).as("label")),
        Seq(count(col("node")))) { g =>
      // a NULL id shows in the node count (non-NULL count < |V|); only
      // then is the pair frame re-read to name the column
      if (g.stats.getLong(1) < g.n) ids.foreach(c =>
        require(pairs.filter(col(c).isNull).isEmpty,
                s"DedupClusters: NULL pair id in '$c'"))
      g.nodes
    } { (g, labels) =>
      g.gather(labels).select(col("dst").as("node"), col("label"),
                              lit(false).as("own"))
        .unionByName(labels.withColumn("own", lit(true)))
        .groupBy("node")
        .agg(min("label").as("label"),
             min(when(col("own"), col("label"))).as("was"))
        .select(col("node"), col("label"),
                (col("label") < col("was")).as(Propagate.Moved))
    }
    // the coalesces are identities (ids are never NULL) that mark both
    // columns non-nullable — the schema the downstream parquet dumps
    // have always carried for this operator
    labels.select(coalesce(col("node"), lit(0L)).as("id"),
                  coalesce(col("label"), lit(0L)).as("cluster_id"))
  }

  /** Full dedup: near-dup pairs → components → survivors = one
    * representative (min id) per cluster + all unpaired docs. */
  def survivors(allIds: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    val dropped = comps.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    allIds.select(col(idCol)).join(dropped, Seq(idCol), "left_anti")
  }

  /** Policy-driven survivor selection: keep the highest-`scoreCol` doc
    * per cluster (ties → min id) instead of the arbitrary min-id
    * representative — the production dedup policy (keep the longest /
    * highest-quality copy, drop the rest). Unpaired docs form
    * singleton clusters and always survive. Returns
    * (idCol, cluster_id, scoreCol) — one row per cluster. */
  def survivorsBy(docs: DataFrame, idCol: String, scoreCol: String,
                  pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comps = connectedComponents(pairs)
    val scored = docs.select(col(idCol), col(scoreCol))
      .join(comps.withColumnRenamed("id", "__cc_id"),
            col(idCol) === col("__cc_id"), "left_outer")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .drop("__cc_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col(scoreCol).desc, col(idCol))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("cluster_id"), col(scoreCol))
  }
}
