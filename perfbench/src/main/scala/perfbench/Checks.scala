package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Outcome of checking one dedup result against the generator's truth. */
final case class DedupCheck(errors: Seq[String], clusters: Long,
    recall: Double, precision: Double, digest: String) {
  /** The values the determinism guard compares across passes. */
  def guard: (Long, Double, String) = (clusters, recall, digest)
}

object Checks {

  /** (id, cluster) rows of an assignment frame, collected to the driver
    * (one job; the check itself is plain Scala).
    */
  def collectPairs(df: DataFrame, id: String, cluster: String): Array[(Long, Long)] =
    df.select(col(id).cast("long"), col(cluster).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  /** `assign` (id, cluster) against `truth` (id -> truth cluster):
    *  - every input id gets exactly one cluster, and no other id appears;
    *  - each cluster id is the minimum member id;
    *  - duplicate-pair recall and precision against the truth clusters
    *    (pairs of ids sharing a truth cluster vs sharing a found cluster).
    */
  def dedup(assign: Array[(Long, Long)], truth: collection.Map[Long, Long]): DedupCheck = {
    val byId = mutable.HashMap.empty[Long, Long]
    var multi = 0L
    assign.foreach { case (id, c) => if (byId.put(id, c).isDefined) multi += 1 }
    val missing = truth.keysIterator.count(id => !byId.contains(id))
    val extra = byId.keysIterator.count(id => !truth.contains(id))
    val rootOf = mutable.HashMap.empty[Long, Long]
    byId.foreach { case (id, c) =>
      rootOf.update(c, math.min(id, rootOf.getOrElse(c, Long.MaxValue)))
    }
    val badRoots = rootOf.count { case (c, m) => c != m }

    val cells = mutable.HashMap.empty[(Long, Long), Long]
    val truthSize = mutable.HashMap.empty[Long, Long]
    val foundSize = mutable.HashMap.empty[Long, Long]
    byId.foreach { case (id, c) =>
      truth.get(id).foreach { t =>
        cells((t, c)) = cells.getOrElse((t, c), 0L) + 1
        truthSize(t) = truthSize.getOrElse(t, 0L) + 1
        foundSize(c) = foundSize.getOrElse(c, 0L) + 1
      }
    }
    def pairs(ns: Iterable[Long]) = ns.iterator.map(n => n * (n - 1) / 2).sum.toDouble
    val tp = pairs(cells.values)
    val truePairs = pairs(truthSize.values)
    val foundPairs = pairs(foundSize.values)

    val errors = Seq(
      missing.toLong -> "input ids without a cluster",
      extra.toLong -> "assigned ids not in the input",
      multi -> "ids assigned more than once",
      badRoots.toLong -> "clusters whose id is not their minimum member id"
    ).collect { case (k, what) if k > 0 => s"$k $what" }
    DedupCheck(errors, rootOf.size,
      if (truePairs == 0) 1.0 else tp / truePairs,
      if (foundPairs == 0) 1.0 else tp / foundPairs,
      Digest.ofPairs(assign))
  }
}
