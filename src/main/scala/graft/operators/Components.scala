package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over near-duplicate PAIR output —
  * the cluster-resolution step a training-data pipeline needs between
  * "these documents are similar" (Dedup.*Pairs) and "keep one document
  * per duplicate cluster".
  *
  * Algorithm: min-label propagation with a pointer-jumping shortcut
  * per round (each node adopts the min of its own label, its
  * neighbors' labels, and its label's label). Propagation alone needs
  * O(diameter) rounds; the shortcut halves remaining chain lengths,
  * giving O(log d) rounds — LSH duplicate clusters are near-cliques
  * (d small), but the log bound keeps pathological chains from
  * scheduling hundreds of shuffles at corpus scale. Every round
  * shuffles only the edge list + label table (no per-node neighbor
  * materialization, so degenerate high-degree nodes cannot OOM an
  * executor the way a collect_list-based large-star would).
  * Public-domain algorithm family: "hash-to-min" / pointer jumping,
  * Kiveris et al., "Connected Components in MapReduce and Beyond".
  */
object Components {

  /** Resolve an undirected edge list into components.
    *
    * @param pairs DataFrame with two long-castable id columns; each
    *              row is one undirected edge (self-loops ignored)
    * @return (id, component) — one row per node that appears in
    *         `pairs`, where component = min node id reachable from it
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIter: Int = 25): DataFrame = {
    // each round references the previous label table TWICE (self-join
    // for the pointer jump), so carrying lineage across rounds grows
    // the logical plan exponentially — the labels MUST be re-rooted on
    // materialized data every round. checkpoint() when a checkpoint
    // dir is configured (survives executor loss — the right choice on
    // a real cluster), localCheckpoint() otherwise.
    def cut(df: DataFrame): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    val half = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val edges = half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = cut(edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")))
    // convergence rides the checkpoint materialization itself (r18,
    // guide §1.5/§2.4 — one fewer job per round): a nondeterministic
    // probe records moved labels into an accumulator WHILE the round
    // output materializes, so the former per-round `count()` job over
    // the checkpoint disappears. Only the zero/non-zero distinction
    // drives the loop (exact under task retries — a retried task can
    // re-add, inflating the count, but never fabricates a move from
    // zero); the WARN therefore reports the count as approximate.
    // Each round registers its own accumulator: a reset one shared
    // across rounds could take a late update from the round before.
    var iter = 0
    var changed = 1L
    while (iter < maxIter && changed > 0) {
      // min over self + neighbors
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("comp", "nc"), "dst")
        .groupBy(col("src").as("id")).agg(min("nc").as("nc"))
      // carry the round's starting label through as `old` so the
      // convergence probe runs over the round's own output rows
      // (r17 removed the old-vs-new shuffle join; r18 removed the
      // count job)
      val prop = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("old"),
          least(col("comp"), coalesce(col("nc"), col("comp"))).as("comp"))
      // pointer jump: follow the label one hop (labels are node ids,
      // so every label has a row). Doubles effective propagation
      // distance per round.
      val movedAcc = pairs.sparkSession.sparkContext
        .longAccumulator(s"graft.components.moved.$iter")
      val probe = udf { (o: Long, c: Long) =>
        if (o != c) movedAcc.add(1L)
        true
      }.asNondeterministic() // must not be deduplicated or reordered
      val jumped = cut(prop
        .join(prop.select(col("id").as("comp"), col("comp").as("cc")), Seq("comp"), "left")
        .select(col("id"), col("old"),
          least(col("comp"), coalesce(col("cc"), col("comp"))).as("comp"))
        .filter(probe(col("old"), col("comp"))))
      changed = movedAcc.value
      labels = jumped.select(col("id"), col("comp"))
      iter += 1
    }
    edges.unpersist()
    // no silent caps: an unconverged run means components are still
    // SPLIT — a dedup keyed on them under-merges. With pointer jumping
    // 25 rounds cover chain diameters ~2^25, so this fires only on
    // truly pathological graphs (or a too-small maxIter override).
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger("graft.Components").warn(
        s"connectedComponents stopped at maxIter=$maxIter with ~$changed " +
          "label moves still recorded — components may be split; raise maxIter")
    labels
  }

  /** Keep one canonical (min-id) row per duplicate cluster implied by
    * `pairs`; rows not in any pair survive untouched. Adds
    * `component` (cluster id = min doc id in the cluster) and
    * `n_dropped` (how many other cluster members this row absorbed —
    * the no-silent-caps counter for cluster-level dedup). */
  def dedupByPairs(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIter: Int = 25): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol, maxIter)
    // the canonical row is the min id PRESENT IN df — the cluster's
    // global min (the comp label) may not be a df row at all (pairs
    // computed before a filter, or carrying foreign ids), and keying
    // the survivor on it would silently drop the whole cluster
    val present = comps.join(
      df.select(col(idCol).as("id")), Seq("id"), "left_semi")
    val canonical = present.groupBy("comp")
      .agg(min(col("id")).as(idCol), (count(lit(1)) - 1).as("n_dropped"))
      .select(col(idCol), col("comp").as("component"), col("n_dropped"))
    val member = comps.select(col("id").as(idCol))
    df.join(member.withColumn("dup", lit(true)), Seq(idCol), "left")
      .filter(col("dup").isNull) // singletons
      .drop("dup")
      .withColumn("component", col(idCol))
      .withColumn("n_dropped", lit(0L))
      .unionByName(df.join(canonical, idCol :: Nil))
  }
}
