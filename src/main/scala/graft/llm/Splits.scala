package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Leakage-safe train/valid/test assignment keyed by near-dup cluster. */
object Splits {

  // Train/valid/test assignment that can never leak a near-duplicate
  // across splits: the split is a deterministic hash of the doc's
  // near-dup CLUSTER id (q73's collapse), not of the doc itself, so
  // every member of a cluster lands in the same split by construction —
  // the standard fix for the eval-contamination mode where a test doc's
  // near-twin sits in train. Unpaired docs hash their own id (each is
  // its own singleton group). Split rates ride the first md5 hex digit
  // (q66's machinery): < 'c' → train (12/16), < 'e' → valid (2/16),
  // else test. Beyond the clustering itself this is one left join and a
  // map — the assignment adds nothing to the collapse's scale cost.
  /** The split-assignment map shared by q91 (self-contained: re-clusters)
    * and the production path (`ClusterMaintenance.splitsFromLabels`:
    * consumes the persisted labeling). One left join + a md5 map —
    * nothing beyond the clustering's own scale cost. */
  private[graft] def splitAssign(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("hd",
        substring(md5(concat(lit("split|"), col("group_id").cast("string"))), 1, 1))
      .withColumn("split",
        when(col("hd") < "c", "train")
          .when(col("hd") < "e", "valid")
          .otherwise("test"))
      .select("doc_id", "group_id", "split")
}
